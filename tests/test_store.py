"""Durable mutation persistence: flush -> versioned parquet + manifest ->
reopen resumes the flushed state (the WAL-recovery analog of
wal_manager.dart / table_data_manager.dart:4378, without porting the WAL)."""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _fresh(spark, tmp_path_factory, tag):
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp(f"wh_{tag}"))
    return ToStoreSpark(spark, data_dir=SF, warehouse=wh), wh


def test_flush_reopen_preserves_mutations(spark, tmp_path_factory):
    from tostore_spark import ToStoreSpark
    db, wh = _fresh(spark, tmp_path_factory, "roundtrip")
    n0 = db.df("nation").count()
    db.update("nation", {"n_name": "FLUSHED"}) \
      .where("n_nationkey", "=", 0).execute()
    db.delete("nation").where("n_nationkey", "=", 1).execute()
    flushed = db.flush()
    assert flushed == ["nation"]
    # a brand-new engine on the same warehouse resumes the flushed state
    db2 = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    got = db2.df("nation")
    assert got.count() == n0 - 1
    assert got.filter("n_nationkey = 0").collect()[0]["n_name"] == "FLUSHED"
    assert got.filter("n_nationkey = 1").count() == 0
    # while untouched tables still read straight from the data_dir source
    assert "testdata" in db2._tables[("default", "region")]["path"]


def test_flush_writes_only_dirty_tables(spark, tmp_path_factory):
    """At 100 TB flush must not rewrite clean source tables."""
    db, wh = _fresh(spark, tmp_path_factory, "dirty_only")
    db.update("region", {"r_name": "XX"}) \
      .where("r_regionkey", "=", 0).execute()
    assert db.flush() == ["region"]
    assert os.path.isdir(os.path.join(wh, "default", "region"))
    for big in ("lineitem", "orders", "customer", "nation"):
        assert not os.path.exists(os.path.join(wh, "default", big))
    # a second flush with no new mutations writes nothing
    assert db.flush() == []


def test_flush_roundtrips_kv_spaces_versions(spark, tmp_path_factory):
    from tostore_spark import ToStoreSpark
    db, wh = _fresh(spark, tmp_path_factory, "kv")
    db.kv.set_value("greeting", "hello")
    db.set_version(7)
    db.switch_space("analytics")
    db.switch_space("default")
    db.update("region", {"r_name": "XX"}) \
      .where("r_regionkey", "=", 0).execute()
    db.flush()
    db2 = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert db2.kv.get_value("greeting") == "hello"
    assert db2.get_version() == 7
    assert "analytics" in db2.list_spaces()


def test_flush_versions_accumulate_and_vacuum(spark, tmp_path_factory):
    db, wh = _fresh(spark, tmp_path_factory, "vacuum")
    tdir = os.path.join(wh, "default", "region")
    for i in range(3):
        db.update("region", {"r_name": f"GEN{i}"}) \
          .where("r_regionkey", "=", 0).execute()
        db.flush()
    def _vdirs():
        # the _log subdir (per-version write claims) is metadata, not a
        # version — count only v<N> directories
        return [d for d in os.listdir(tdir)
                if d.startswith("v") and d[1:].isdigit()]
    assert len(_vdirs()) == 3
    # every committed version keeps its permanent write claim
    claims = os.listdir(os.path.join(tdir, "_log"))
    assert sorted(claims) == ["v1.claim", "v2.claim", "v3.claim"]
    removed = db.vacuum(keep=1)
    assert removed == 2 and len(_vdirs()) == 1
    # pruned versions' claims are pruned with their directories
    assert os.listdir(os.path.join(tdir, "_log")) == ["v3.claim"]
    # current state still readable after vacuum
    assert db.df("region").filter("r_regionkey = 0") \
             .collect()[0]["r_name"] == "GEN2"


def test_flush_without_warehouse_is_memory_only(spark, tmp_path_factory):
    from tostore_spark import ToStoreSpark
    db = ToStoreSpark(spark, data_dir=SF)
    db.update("region", {"r_name": "VOLATILE"}) \
      .where("r_regionkey", "=", 0).execute()
    assert db.flush() == []           # nothing became durable
    db2 = ToStoreSpark(spark, data_dir=SF)
    assert db2.df("region").filter("r_regionkey = 0") \
              .collect()[0]["r_name"] != "VOLATILE"


def test_manifest_is_atomic(spark, tmp_path_factory):
    db, wh = _fresh(spark, tmp_path_factory, "atomic")
    db.update("region", {"r_name": "XX"}) \
      .where("r_regionkey", "=", 0).execute()
    db.flush()
    assert os.path.exists(os.path.join(wh, "manifest.json"))
    assert not os.path.exists(os.path.join(wh, "manifest.json.tmp"))


def test_created_table_survives_flush_reopen(spark, tmp_path_factory):
    from tostore_spark import ToStoreSpark
    from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                      TableSchema)
    db, wh = _fresh(spark, tmp_path_factory, "created")
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="id", type=DataType.text),
                FieldSchema(name="body", type=DataType.text)]))
    db.insert("notes", {"id": "n1", "body": "remember"})
    db.flush()
    db2 = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    rows = db2.df("notes").collect()
    assert len(rows) == 1 and rows[0]["body"] == "remember"


def test_concurrent_flush_detected(spark, tmp_path_factory):
    """Two engines on one warehouse: the second flush fails with
    ConcurrentWriteError instead of silently clobbering the first."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.store import ConcurrentWriteError
    wh = str(tmp_path_factory.mktemp("wh_cas"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    a.update("region", {"r_name": "A"}).where("r_regionkey", "=", 0).execute()
    a.flush()
    b.update("region", {"r_name": "B"}).where("r_regionkey", "=", 0).execute()
    with pytest.raises(ConcurrentWriteError):
        b.flush()
    # a reopened engine sees A's state and can flush again
    c = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert c.df("region").filter("r_regionkey = 0") \
            .collect()[0]["r_name"] == "A"
    c.update("region", {"r_name": "C"}).where("r_regionkey", "=", 0).execute()
    c.flush()
    d = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert d.df("region").filter("r_regionkey = 0") \
            .collect()[0]["r_name"] == "C"


def test_time_travel_reads_old_versions(spark, tmp_path_factory):
    db, wh = _fresh(spark, tmp_path_factory, "tt")
    for i in range(3):
        db.update("region", {"r_name": f"V{i}"}) \
          .where("r_regionkey", "=", 0).execute()
        db.flush()
    vs = db.table_versions("region")
    assert len(vs) == 3 and vs == sorted(vs)
    assert db.df_at("region", vs[0]).filter("r_regionkey = 0") \
             .collect()[0]["r_name"] == "V0"
    assert db.df_at("region", vs[-1]).filter("r_regionkey = 0") \
             .collect()[0]["r_name"] == "V2"
    with pytest.raises(FileNotFoundError, match="available"):
        db.df_at("region", 9999)
    # versions handed out by df_at are pinned against vacuum; releasing
    # the pins lets vacuum prune them
    db.vacuum(keep=1)
    assert db.table_versions("region") == sorted({vs[0], vs[-1]})
    db.unpin_versions()
    db.vacuum(keep=1)
    assert db.table_versions("region") == [vs[-1]]


def test_vacuum_cannot_break_live_df_at_frame(spark, tmp_path_factory):
    """A collected-then-reread time-travel frame survives vacuum: the pin
    keeps its files on disk (the eviction-after-delete class)."""
    db, wh = _fresh(spark, tmp_path_factory, "pin")
    for i in range(3):
        db.update("region", {"r_name": f"P{i}"}) \
          .where("r_regionkey", "=", 0).execute()
        db.flush()
    v0 = db.table_versions("region")[0]
    frame = db.df_at("region", v0)
    first = frame.filter("r_regionkey = 0").collect()[0]["r_name"]
    assert db.vacuum(keep=1) == 1          # prunes only the unpinned middle
    # the lazy frame re-reads its files — they must still exist
    again = frame.filter("r_regionkey = 0").collect()[0]["r_name"]
    assert first == again == "P0"


def test_refresh_replays_unflushed_tables(spark, tmp_path_factory):
    """Explicit refresh after a remote flush: the engine folds in the
    winner's state while keeping its own non-conflicting local
    mutations, then flushes cleanly."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_refresh"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    # a flushes region; b has an unflushed mutation on NATION (no overlap)
    a.update("region", {"r_name": "A"}).where("r_regionkey", "=", 0).execute()
    a.flush()
    b.update("nation", {"n_name": "B"}).where("n_nationkey", "=", 0).execute()
    assert b.refresh() == ["nation"]
    # after refresh b sees a's region AND kept its own nation mutation
    assert b.df("region").filter("r_regionkey = 0") \
            .collect()[0]["r_name"] == "A"
    assert b.flush() == ["nation"]
    c = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert c.df("nation").filter("n_nationkey = 0") \
            .collect()[0]["n_name"] == "B"
    assert c.df("region").filter("r_regionkey = 0") \
            .collect()[0]["r_name"] == "A"


def test_disjoint_flush_merges_without_conflict(spark, tmp_path_factory):
    """Per-table commit CAS: two engines flushing DISJOINT tables both
    commit — the second merges its entries into the first's manifest
    (zero ConcurrentWriteError), and its registry folds in the first's
    tables (watchers fire for them)."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_disjoint"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    a.update("region", {"r_name": "A"}).where("r_regionkey", "=", 0).execute()
    a.flush()
    b.update("nation", {"n_name": "B"}).where("n_nationkey", "=", 0).execute()
    assert b.flush() == ["nation"]     # merge mode: NO error, no retry
    # b's registry folded in a's region during the merged flush
    assert b.df("region").filter("r_regionkey = 0") \
            .collect()[0]["r_name"] == "A"
    # a fresh engine sees BOTH commits
    c = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert c.df("region").filter("r_regionkey = 0") \
            .collect()[0]["r_name"] == "A"
    assert c.df("nation").filter("n_nationkey = 0") \
            .collect()[0]["n_name"] == "B"
    # and a's next flush of a third table merges on top of b's
    a.update("supplier", {"s_name": "S"}).where("s_suppkey", "=", 1).execute()
    assert a.flush() == ["supplier"]
    assert a.df("nation").filter("n_nationkey = 0") \
            .collect()[0]["n_name"] == "B"


def test_disjoint_flush_merges_kv_key_level(spark, tmp_path_factory):
    """Concurrent KV writers reconcile at key level through the merge:
    each engine's diff against the snapshot it loaded lands; untouched
    keys keep the other writer's values; local deletes win."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_kvmerge"))
    seed = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    seed.kv.set_value("shared", "s0")
    seed.kv.set_value("doomed", "x")
    seed.update("part", {"p_name": "P"}).where("p_partkey", "=", 1).execute()
    seed.flush()
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    a.kv.set_value("from_a", "1")
    a.update("region", {"r_name": "A"}).where("r_regionkey", "=", 0).execute()
    a.flush()
    b.kv.set_value("from_b", "2")
    b.kv.remove_value("doomed")
    b.update("nation", {"n_name": "B"}).where("n_nationkey", "=", 0).execute()
    b.flush()                                    # merge mode
    c = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert c.kv.get_value("from_a") == "1"       # a's add survived b's merge
    assert c.kv.get_value("from_b") == "2"
    assert c.kv.get_value("shared") == "s0"      # untouched key kept
    assert c.kv.get_value("doomed") is None      # b's delete won


def test_same_table_disjoint_rows_row_merge(spark, tmp_path_factory):
    """Row-granular write sets (reference:
    transaction_manager.dart:17-50): two engines flush the SAME table
    having touched DISJOINT rows — the loser's refresh(row_merge=True)
    replays its local changes as a diff-apply onto the winner's state
    (no re-derivation) and its retry flush commits both updates."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.store import ConcurrentWriteError
    wh = str(tmp_path_factory.mktemp("wh_rowmerge"))
    seed = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    seed.update("region", {"r_name": "SEED"}) \
        .where("r_regionkey", "=", 4).execute()
    seed.flush()                       # common base version both load
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    a.update("region", {"r_name": "A0"}).where("r_regionkey", "=", 0).execute()
    a.flush()
    b.update("region", {"r_name": "B1"}).where("r_regionkey", "=", 1).execute()
    with pytest.raises(ConcurrentWriteError):
        b.flush()                      # table-level CAS still trips
    assert b.refresh(row_merge=True) == ["region"]
    # replayed state holds BOTH writers' rows before b even re-flushes
    got = {r["r_regionkey"]: r["r_name"]
           for r in b.df("region").collect()}
    assert got[0] == "A0" and got[1] == "B1" and got[4] == "SEED"
    assert b.flush() == ["region"]
    c = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    got = {r["r_regionkey"]: r["r_name"] for r in c.df("region").collect()}
    assert got[0] == "A0" and got[1] == "B1" and got[4] == "SEED"
    assert c.df("region").count() == 5     # no duplicated rows


def test_flush_on_conflict_row_merge_auto_retry(spark, tmp_path_factory):
    """flush(on_conflict='row_merge') is the one-call optimistic loop:
    the loser refreshes with row merge and re-flushes internally —
    disjoint-row writers need no caller-side conflict handling."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_autoretry"))
    seed = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    seed.update("region", {"r_name": "SEED"}) \
        .where("r_regionkey", "=", 4).execute()
    seed.flush()
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    a.update("region", {"r_name": "A0"}).where("r_regionkey", "=", 0).execute()
    a.flush()
    b.update("region", {"r_name": "B1"}).where("r_regionkey", "=", 1).execute()
    assert b.flush(on_conflict="row_merge") == ["region"]   # no raise
    c = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    got = {r["r_regionkey"]: r["r_name"] for r in c.df("region").collect()}
    assert got[0] == "A0" and got[1] == "B1" and got[4] == "SEED"
    assert c.df("region").count() == 5


def test_same_table_overlapping_rows_still_conflict(spark, tmp_path_factory):
    """Both writers changed the SAME row: row_merge must refuse (first
    committer wins) instead of silently dropping or duplicating."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.store import ConcurrentWriteError
    wh = str(tmp_path_factory.mktemp("wh_rowconflict"))
    seed = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    seed.update("region", {"r_name": "SEED"}) \
        .where("r_regionkey", "=", 4).execute()
    seed.flush()
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    a.update("region", {"r_name": "A0"}).where("r_regionkey", "=", 0).execute()
    a.flush()
    b.update("region", {"r_name": "B0"}).where("r_regionkey", "=", 0).execute()
    with pytest.raises(ConcurrentWriteError):
        b.flush()
    with pytest.raises(ConcurrentWriteError, match="row-level conflict"):
        b.refresh(row_merge=True)


def test_refresh_rejects_true_conflict(spark, tmp_path_factory):
    """Both writers touched the SAME table: refresh must refuse to replay
    (re-deriving is the caller's job), naming the table."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.store import ConcurrentWriteError
    wh = str(tmp_path_factory.mktemp("wh_conflict"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    a.update("region", {"r_name": "A"}).where("r_regionkey", "=", 0).execute()
    a.flush()
    b.update("region", {"r_name": "B"}).where("r_regionkey", "=", 0).execute()
    with pytest.raises(ConcurrentWriteError):
        b.flush()
    with pytest.raises(ConcurrentWriteError, match="region"):
        b.refresh()


def test_warehouse_over_file_uri_hadoop_fs(spark, tmp_path_factory):
    """file:// warehouse routes ALL metadata through the Hadoop FileSystem
    shim (the code path s3a://-style deployments use) — flush, reopen,
    versions, time-travel and vacuum all work with zero raw os.* on the
    warehouse path."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.fs import HadoopFS, get_fs
    local = tmp_path_factory.mktemp("wh_uri")
    wh = f"file://{local}"
    assert isinstance(get_fs(wh, spark), HadoopFS)
    db = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    for i in range(2):
        db.update("region", {"r_name": f"U{i}"}) \
          .where("r_regionkey", "=", 0).execute()
        assert db.flush() == ["region"]
    db2 = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert db2.df("region").filter("r_regionkey = 0") \
              .collect()[0]["r_name"] == "U1"
    vs = db2.table_versions("region")
    assert len(vs) == 2
    assert db2.df_at("region", vs[0]).filter("r_regionkey = 0") \
              .collect()[0]["r_name"] == "U0"
    db2.unpin_versions()
    assert db2.vacuum(keep=1) == 1
    assert db2.table_versions("region") == [vs[-1]]


def test_flush_lock_owner_token_semantics(spark, tmp_path_factory):
    """Lock steal safety: a thief breaking a STALE lock leaves the slow
    holder unable to pass verify() (foreign token), and the slow holder's
    release does not unlink the thief's live lock."""
    import time

    from tostore_spark.fs import LocalFS
    from tostore_spark.store import (_LOCK_STALE_S, ConcurrentWriteError,
                                     FlushLock)
    wh = str(tmp_path_factory.mktemp("wh_lock"))
    fs = LocalFS()
    slow = FlushLock(fs, wh)
    slow.acquire()
    assert slow.owned()
    # a live lock cannot be acquired by a second writer
    other = FlushLock(fs, wh)
    with pytest.raises(ConcurrentWriteError):
        other.acquire()
    # heartbeat refreshes mtime, keeping the lock un-stealable
    old = fs.getmtime(slow.path)
    time.sleep(0.05)
    slow.heartbeat()
    assert fs.getmtime(slow.path) >= old
    # simulate a crashed holder: age the lock past the stale horizon
    stale = time.time() - _LOCK_STALE_S - 5
    os.utime(slow.path, (stale, stale))
    thief = FlushLock(fs, wh)
    thief.acquire()                      # steals the stale lock
    assert thief.owned() and not slow.owned()
    with pytest.raises(ConcurrentWriteError, match="stolen"):
        slow.verify()                    # slow holder aborts pre-manifest
    slow.release()                       # must NOT unlink the thief's lock
    assert thief.owned()
    thief.release()
    assert not os.path.exists(thief.path)


def test_kv_rejects_non_json_values_at_set_time(spark, tmp_path_factory):
    """Non-JSON KV values fail at set_value (the API boundary), never
    mid-flush after table parquet writes."""
    import datetime
    db, wh = _fresh(spark, tmp_path_factory, "kvjson")
    with pytest.raises(TypeError):
        db.kv.set_value("bad", datetime.datetime.now())
    db.kv.set_value("good", {"nested": [1, 2]})
    db.flush()


def test_byte_size_parses_units(spark):
    from tostore_spark.llmops.dedup import _byte_size
    assert _byte_size(spark, "134217728b") == 128 * 1024 * 1024
    assert _byte_size(spark, "128m") == 128 * 1024 * 1024
    assert _byte_size(spark, "1g") == 1 << 30
    assert _byte_size(spark, "4096") == 4096


def test_cross_engine_watch_via_manifest(spark, tmp_path_factory):
    """Another engine's flush is visible to this engine's watch(): one
    manifest-seq check folds the remote state in and fires the same
    re-query callback a local write fires."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_xwatch"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    seen = []
    # remote=False: this test drives the fold EXPLICITLY via
    # check_remote_changes (the auto event-push default would race it)
    b.watch(b.query("nation").select(["n_nationkey", "n_name"])
             .where("n_nationkey", "=", 0).limit(1),
            lambda recs: seen.append(recs[0]["n_name"]), remote=False)
    assert len(seen) == 1            # initial emission
    assert b.check_remote_changes() == []   # idle: seq unchanged
    a.update("nation", {"n_name": "REMOTE"}) \
     .where("n_nationkey", "=", 0).execute()
    a.flush()
    assert b.check_remote_changes() == ["nation"]
    assert seen[-1] == "REMOTE"      # watcher re-queried the new state
    # b's own registry now serves the remote value too
    assert b.df("nation").filter("n_nationkey = 0") \
            .collect()[0]["n_name"] == "REMOTE"


def test_cross_engine_watch_conflict_raises(spark, tmp_path_factory):
    """A remote flush of a table THIS engine also mutated is a true
    conflict: check_remote_changes must refuse (keeping local state)."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.store import ConcurrentWriteError
    wh = str(tmp_path_factory.mktemp("wh_xconf"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b.update("nation", {"n_name": "LOCAL"}) \
     .where("n_nationkey", "=", 1).execute()
    a.update("nation", {"n_name": "REMOTE"}) \
     .where("n_nationkey", "=", 1).execute()
    a.flush()
    with pytest.raises(ConcurrentWriteError, match="nation"):
        b.check_remote_changes()
    assert b.df("nation").filter("n_nationkey = 1") \
            .collect()[0]["n_name"] == "LOCAL"


def test_manifest_stream_event_push(spark, tmp_path_factory):
    """Event-push cross-engine watch: engine B's live watch() observes
    engine A's flush through the Structured Streaming manifest-event
    source — B never calls check_remote_changes itself — and the folded
    state equals what a poll would have produced."""
    import time as _t

    from tostore_spark import ToStoreSpark
    from tostore_spark.streaming.reactive import start_manifest_stream
    wh = str(tmp_path_factory.mktemp("wh_evpush"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    seen = []
    b.watch(b.query("nation").select(["n_nationkey", "n_name"])
             .where("n_nationkey", "=", 0).limit(1),
            lambda recs: seen.append(recs[0]["n_name"]), remote=False)
    assert seen == [seen[0]]             # initial emission only
    q = start_manifest_stream(b, trigger="200 milliseconds")
    try:
        a.update("nation", {"n_name": "PUSHED"}) \
         .where("n_nationkey", "=", 0).execute()
        a.flush()
        deadline = _t.time() + 60
        while _t.time() < deadline and (not seen or seen[-1] != "PUSHED"):
            _t.sleep(0.2)                # the TEST waits; B never polls
        assert seen[-1] == "PUSHED"
        assert b.last_remote_error is None
        # stream-fold state == poll-fold state: a poll now finds nothing
        assert b.check_remote_changes() == []
        assert b.df("nation").filter("n_nationkey = 0") \
                .collect()[0]["n_name"] == "PUSHED"
    finally:
        q.stop()


def test_watch_defaults_to_event_push(spark, tmp_path_factory):
    """With a warehouse, a plain ``watch()`` registration is enough to
    observe another engine's flush: the event-push manifest stream is
    started automatically (no polling sleeps anywhere in B), and the
    callback fires within the stream's trigger latency."""
    import time as _t

    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_autopush"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    seen = []
    b.watch(b.query("nation").select(["n_nationkey", "n_name"])
             .where("n_nationkey", "=", 0).limit(1),
            lambda recs: seen.append(recs[0]["n_name"]))
    try:
        assert b.remote_watch_active()           # started by watch()
        assert getattr(b, "_remote_stream", None) is not None  # push, not poll
        a.update("nation", {"n_name": "AUTOPUSH"}) \
         .where("n_nationkey", "=", 0).execute()
        a.flush()
        deadline = _t.time() + 60
        while _t.time() < deadline and (not seen or seen[-1] != "AUTOPUSH"):
            _t.sleep(0.2)                        # the TEST waits; B never polls
        assert seen[-1] == "AUTOPUSH"
        assert b.last_remote_error is None
    finally:
        b.stop_remote_watch()
        assert not b.remote_watch_active()


def test_remote_watch_poller_thread(spark, tmp_path_factory):
    """start_remote_watch: the daemon poller delivers the remote flush
    without an explicit check call."""
    import time as _t

    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_xpoll"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    seen = []
    b.watch(b.query("region").select(["r_regionkey", "r_name"])
             .where("r_regionkey", "=", 0).limit(1),
            lambda recs: seen.append(recs[0]["r_name"]), remote=False)
    b.start_remote_watch(interval_s=0.3, mode="poll")
    assert b.remote_watch_active()
    try:
        a.update("region", {"r_name": "POLLED"}) \
         .where("r_regionkey", "=", 0).execute()
        a.flush()
        deadline = _t.time() + 20
        while _t.time() < deadline and seen[-1] != "POLLED":
            _t.sleep(0.2)
        assert seen[-1] == "POLLED"
        assert b.last_remote_error is None
    finally:
        b.stop_remote_watch()


def test_ttl_cleanup_at_flush(spark, tmp_path_factory):
    """TTL physical cleanup rides the flush (ttl_cleanup_manager.dart:40+
    in batch form): expired rows are absent from the flushed parquet and
    from a reopened engine; live rows survive."""
    import datetime
    import glob

    from tostore_spark import ToStoreSpark
    from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                      PrimaryKeyType, TableSchema,
                                      TableTtlConfig)
    db, wh = _fresh(spark, tmp_path_factory, "ttlflush")
    db.create_table(TableSchema(
        name="ttl_f",
        fields=[FieldSchema("v", DataType.integer),
                FieldSchema("created", DataType.datetime)],
        primary_key=PrimaryKeyConfig(name="id", type=PrimaryKeyType.none),
        ttl=TableTtlConfig(ttl_ms=60_000, source_field="created")))
    now = datetime.datetime.now()
    db.batch_insert("ttl_f", [
        {"id": "fresh", "v": 1, "created": now},
        {"id": "stale", "v": 2, "created": now - datetime.timedelta(hours=1)},
    ])
    db.flush()
    # physically absent from the versioned parquet (raw read, no filter)
    vdirs = sorted(glob.glob(os.path.join(wh, "default", "ttl_f", "v*")))
    assert vdirs, "flush wrote no version dir"
    raw = spark.read.parquet(vdirs[-1])
    assert [r["id"] for r in raw.collect()] == ["fresh"]
    # a reopened engine starts clean too
    db2 = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert [r["id"] for r in db2.df("ttl_f").collect()] == ["fresh"]


def test_transaction_retry_concurrent_writers(spark, tmp_path_factory):
    """Optimistic transaction retry (transaction_manager.dart:17-50 analog):
    two engines race mutate+flush on the same warehouse; the loser's
    transaction auto-rolls-back, refreshes to the winner's committed
    state, re-runs its action, and commits — both effects land."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_txretry"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)

    def add_one(eng):
        # increment r_regionkey=0's comment suffix — a read-modify-write
        # that must re-execute against the winner's state on retry
        cur = eng.df("region").filter("r_regionkey = 0") \
                 .collect()[0]["r_name"]
        eng.update("region", {"r_name": cur + "+A"}) \
           .where("r_regionkey", "=", 0).execute()

    def add_two(eng):
        cur = eng.df("region").filter("r_regionkey = 0") \
                 .collect()[0]["r_name"]
        eng.update("region", {"r_name": cur + "+B"}) \
           .where("r_regionkey", "=", 0).execute()

    # A mutates but does not flush yet; B commits first (wins the race)
    res_b = b.transaction(add_two, retries=3)
    assert res_b.success
    # A's transaction: its flush would lose (stale seq) -> auto retry
    res_a = a.transaction(add_one, retries=3)
    assert res_a.success
    # both effects present, in commit order (B then A)
    c = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    name = c.df("region").filter("r_regionkey = 0").collect()[0]["r_name"]
    assert name.endswith("+B+A"), name


def test_transaction_retry_exhaustion_returns_failure(spark, tmp_path_factory):
    """When every attempt loses (another writer advances the SAME table
    between each retry), the loser returns TransactionResult(False,
    ConcurrentWriteError) — the uniform result-object contract — instead
    of spinning or raising."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.store import ConcurrentWriteError
    wh = str(tmp_path_factory.mktemp("wh_txspin"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)

    def mutate_and_interfere(eng):
        eng.update("region", {"r_name": "L"}) \
           .where("r_regionkey", "=", 0).execute()
        # sabotage: B commits the SAME table between A's action and A's
        # flush, every time (disjoint tables would merge, not conflict)
        b.refresh()
        b.update("region", {"r_name": "W"}) \
         .where("r_regionkey", "=", 1).execute()
        b.flush()

    res = a.transaction(mutate_and_interfere, retries=2)
    assert not res.success
    assert isinstance(res.error, ConcurrentWriteError)


def test_disjoint_transactions_commit_first_try(spark, tmp_path_factory):
    """Two concurrent transactions on DIFFERENT tables both commit with
    zero retries (per-table CAS merge): each action runs exactly once."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_txdisj"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    runs = {"a": 0, "b": 0}

    def act_a(eng):
        runs["a"] += 1
        eng.update("region", {"r_name": "TA"}) \
           .where("r_regionkey", "=", 0).execute()

    def act_b(eng):
        runs["b"] += 1
        eng.update("nation", {"n_name": "TB"}) \
           .where("n_nationkey", "=", 0).execute()

    # a commits first; b's commit lands AFTER a's without having seen it
    assert a.transaction(act_a, retries=3).success
    assert b.transaction(act_b, retries=3).success
    assert runs == {"a": 1, "b": 1}      # no retry re-ran either action
    c = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert c.df("region").filter("r_regionkey = 0") \
            .collect()[0]["r_name"] == "TA"
    assert c.df("nation").filter("n_nationkey = 0") \
            .collect()[0]["n_name"] == "TB"


def test_transaction_rolls_back_kv_created_inside_scope(spark, tmp_path_factory):
    """KV state born INSIDE a transaction scope must not survive a
    rollback (it is driver state, outside the table snapshot)."""
    from tostore_spark import ToStoreSpark
    db = ToStoreSpark(spark, data_dir=SF)
    assert not hasattr(db, "_kv")
    with pytest.raises(RuntimeError):
        with db.transaction():
            db.kv.set_value("cfg", "1")
            raise RuntimeError("abort")
    assert db.kv.get_value("cfg") is None


def test_apply_changes_replays_table_diff(spark, tmp_path):
    from tostore_spark import ToStoreSpark
    db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
    db.register_table("cdc_t", df=spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "v"]))
    db.flush()
    db.update("cdc_t").where("id", "=", 2).set_field("v", "B").execute()
    db.delete("cdc_t").where("id", "=", 3).execute()
    db.insert("cdc_t", {"id": 4, "v": "d"})
    db.flush()
    v1, v2 = db.table_versions("cdc_t")[-2:]
    feed = db.table_diff("cdc_t", v1, v2)
    # replay the feed onto a fresh copy of v1 -> must equal v2 exactly
    db2 = ToStoreSpark(spark, warehouse=str(tmp_path / "wh2"))
    db2.register_table("cdc_t", df=db.df_at("cdc_t", v1))
    n = db2.apply_changes("cdc_t", feed)
    assert n == feed.count() and n > 0
    got = sorted(tuple(r) for r in db2.df("cdc_t").collect())
    want = sorted(tuple(r) for r in db.df_at("cdc_t", v2).collect())
    assert got == want
    # schema mismatch is rejected
    import pytest as _pt
    with _pt.raises(ValueError):
        db2.apply_changes("cdc_t", feed.withColumnRenamed("id", "nope"))
    # unknown change kinds are rejected loudly, never silently skipped
    # (the reported 'rows applied' must count only applied rows)
    bad = feed.unionByName(
        feed.limit(1).withColumn("change", F.lit("update")))
    with _pt.raises(ValueError, match="unsupported change kinds"):
        db2.apply_changes("cdc_t", bad)


def test_snapshot_consistent_across_writers(spark, tmp_path):
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path / "wh")
    db = ToStoreSpark(spark, warehouse=wh)
    db.register_table("sa", df=spark.createDataFrame([(1, "x")], ["id", "v"]))
    db.register_table("sb", df=spark.createDataFrame([(1, 10)], ["id", "n"]))
    db.flush()
    snap = db.snapshot()
    seq0 = snap.seq
    # a second engine commits to BOTH tables after the snapshot
    db2 = ToStoreSpark(spark, warehouse=wh)
    db2.insert("sa", {"id": 2, "v": "y"})
    db2.insert("sb", {"id": 2, "n": 20})
    db2.flush()
    # live state (after refresh) sees the new rows...
    db.refresh()
    assert db.df("sa").count() == 2 and db.df("sb").count() == 2
    # ...the snapshot still serves BOTH tables at the old state
    assert snap.df("sa").count() == 1 and snap.df("sb").count() == 1
    assert sorted(snap.tables()) == ["sa", "sb"]
    # vacuum keeps the pinned versions while the snapshot is live
    db.refresh()
    removed_live = db.vacuum(keep=1)
    assert snap.df("sa").count() == 1          # files still readable
    snap.release()
    db.vacuum(keep=1)
    import pytest as _pt
    with _pt.raises(KeyError):
        snap.df("nope")


def test_table_history_metadata_view(spark, tmp_path):
    from tostore_spark import ToStoreSpark
    db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
    db.register_table("h", df=spark.createDataFrame([(1,)], ["id"]))
    db.flush()
    # a REWRITE mutation (update) truly supersedes v0 — an insert would
    # append-commit and keep v0 live as a segment of the new version
    db.update("h", {"id": 2}).where("id", "=", 1).execute()
    db.flush()
    hist = {r.version: r for r in db.table_history("h").collect()}
    assert len(hist) == 2
    cur = [v for v, r in hist.items() if r.is_current]
    assert len(cur) == 1 and cur[0] == max(hist)
    for r in hist.values():
        assert r.n_files >= 1 and r.size_bytes > 0
        assert r.modified_ts is not None
    # vacuum prunes; history reflects it
    db.vacuum(keep=1)
    assert db.table_history("h").count() == 1


def test_fsck_reports_missing_and_orphans(spark, tmp_path):
    import shutil
    import os
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path / "wh")
    db = ToStoreSpark(spark, warehouse=wh)
    db.register_table("f", df=spark.createDataFrame([(1,)], ["id"]))
    db.flush()
    # rewrite (not append): the old version dir is genuinely superseded
    db.update("f", {"id": 2}).where("id", "=", 1).execute()
    db.flush()
    db.unpin_versions()
    assert db.fsck().count() == 1     # the superseded v* is an orphan
    assert db.fsck().collect()[0].kind == "orphan_version"
    # vacuum clears the orphan -> clean
    db.vacuum(keep=1)
    assert db.fsck().count() == 0
    # delete the CURRENT version dir behind the manifest's back
    cur = [d for d in os.listdir(os.path.join(wh, "default", "f"))
           if d.startswith("v")]
    shutil.rmtree(os.path.join(wh, "default", "f", cur[-1]))
    kinds = {r.kind for r in db.fsck().collect()}
    assert "missing_version" in kinds


def test_version_claim_blocks_before_data_write(spark, tmp_path_factory):
    """The per-(table, version) write claim: a LIVE foreign claim on the
    target version fails the flush before any parquet is written (no
    clobber window outside the lock); a STALE claim (crashed writer) is
    broken and the flush proceeds."""
    import os as _os
    import time as _time

    from tostore_spark import ToStoreSpark
    from tostore_spark.store import ConcurrentWriteError, _claim_path
    wh = str(tmp_path_factory.mktemp("wh_claim"))
    db = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    db.update("region", {"r_name": "X"}).where("r_regionkey", "=", 0).execute()
    gen = db._generations[("default", "region")]
    cpath = _claim_path(wh, "default", "region", gen)
    _os.makedirs(_os.path.dirname(cpath), exist_ok=True)
    with open(cpath, "w") as f:
        f.write("9999:deadbeef")              # a foreign, LIVE claim
    with pytest.raises(ConcurrentWriteError, match="being written"):
        db.flush()
    vdir = _os.path.join(wh, "default", "region", f"v{gen}")
    assert not _os.path.isdir(vdir)           # no data was written
    # stale claim (old mtime, version not committed): broken + flushed
    _os.utime(cpath, (_time.time() - 7200, _time.time() - 7200))
    assert db.flush() == ["region"]
    assert _os.path.isdir(vdir)
    db2 = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert db2.df("region").filter("r_regionkey = 0") \
              .collect()[0]["r_name"] == "X"


def test_late_conflict_cleans_staged_dirs(spark, tmp_path_factory):
    """A conflict detected at COMMIT time (after data was written
    outside the lock) must delete the staged uncommitted version dir —
    time travel can never surface never-committed data."""
    import os as _os

    from tostore_spark import store as _store
    from tostore_spark import ToStoreSpark
    from tostore_spark.store import ConcurrentWriteError
    wh = str(tmp_path_factory.mktemp("wh_lateconf"))
    seed = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    seed.update("region", {"r_name": "SEED"}) \
        .where("r_regionkey", "=", 4).execute()
    seed.flush()
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b.update("region", {"r_name": "B"}).where("r_regionkey", "=", 1).execute()
    # interleave: a commits region (at a HIGHER version than b's claim,
    # so b's claim succeeds and the race reaches the COMMIT check)
    # after b's phase-1 CAS read — patch read_manifest so b's first
    # (optimistic) read sees the pre-a state, the locked commit read
    # sees truth
    real_read = _store.read_manifest
    state = {"first": True}

    def patched(whp, fs=None, spark=None):
        man = real_read(whp, fs=fs, spark=spark)
        if state["first"]:
            state["first"] = False
            a.update("region", {"r_name": "A"}) \
             .where("r_regionkey", "=", 0).execute()
            a.update("region", {"r_name": "A"}) \
             .where("r_regionkey", "=", 0).execute()   # gen past b's
            a.flush()
            return man            # b plans against the stale view
        return real_read(whp, fs=fs, spark=spark)

    _store.read_manifest = patched
    try:
        with pytest.raises(ConcurrentWriteError,
                           match="while this flush wrote data"):
            b.flush()
    finally:
        _store.read_manifest = real_read
    # b's staged version dir must be gone; a's committed state intact
    gen_b = b._generations[("default", "region")]
    assert gen_b < a._generations[("default", "region")]
    assert not _os.path.isdir(
        _os.path.join(wh, "default", "region", f"v{gen_b}"))
    assert not _os.path.exists(
        _store._claim_path(wh, "default", "region", gen_b))
    c = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    got = {r["r_regionkey"]: r["r_name"] for r in c.df("region").collect()}
    assert got[0] == "A" and got[4] == "SEED"
    # and the loser still recovers by row merge
    assert b.refresh(row_merge=True) == ["region"]
    assert b.flush() == ["region"]
    d = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    got = {r["r_regionkey"]: r["r_name"] for r in d.df("region").collect()}
    assert got[0] == "A" and got[1] == "B" and got[4] == "SEED"


def test_stale_claim_loser_never_deletes_winner_commit(
        spark, tmp_path_factory, monkeypatch):
    """The round-8 claim-ownership fix: a writer whose claim went STALE
    mid-flush (one long data write past _LOCK_STALE_S) loses its claim
    to a concurrent same-version writer who breaks it, re-claims,
    writes the same v<N> dir and COMMITS.  The stalled loser's
    late-conflict cleanup must then NOT delete the winner's committed
    directory or live claim — ownership is proven by the claim token,
    never assumed."""
    import os as _os

    from tostore_spark import ToStoreSpark
    from tostore_spark import store as _store
    from tostore_spark.store import ConcurrentWriteError

    wh = str(tmp_path_factory.mktemp("wh_staleclaim"))
    seed = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    seed.update("region", {"r_name": "SEED"}) \
        .where("r_regionkey", "=", 4).execute()
    seed.flush()
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b.update("region", {"r_name": "B"}).where("r_regionkey", "=", 1).execute()
    a.update("region", {"r_name": "A"}).where("r_regionkey", "=", 1).execute()
    gen = b._generations[("default", "region")]
    assert gen == a._generations[("default", "region")]  # same target v

    # interleave at b's phase-3 lock acquire (b's claim + data write are
    # done): make b's claim look stale, then let a break it, write the
    # SAME version dir, and commit
    orig_stale = _store._LOCK_STALE_S
    real_acquire = _store.FlushLock.acquire
    state = {"done": False}

    def patched_acquire(self):
        if not state["done"]:
            state["done"] = True
            _store._LOCK_STALE_S = 0
            try:
                a.flush()            # breaks b's stale claim, commits v<gen>
            finally:
                _store._LOCK_STALE_S = orig_stale
        return real_acquire(self)

    monkeypatch.setattr(_store.FlushLock, "acquire", patched_acquire)
    with pytest.raises(ConcurrentWriteError):
        b.flush()
    # the winner's committed directory and claim must have survived the
    # loser's cleanup
    vdir = _os.path.join(wh, "default", "region", f"v{gen}")
    cpath = _store._claim_path(wh, "default", "region", gen)
    assert _os.path.isdir(vdir)
    assert _os.path.exists(cpath)
    c = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    got = {r["r_regionkey"]: r["r_name"] for r in c.df("region").collect()}
    assert got[1] == "A" and got[4] == "SEED"


def test_stale_claim_of_committed_version_never_broken(
        spark, tmp_path_factory, monkeypatch):
    """_claim_version re-reads the manifest before breaking a stale
    claim: a claim whose version COMMITTED is kept forever (it shields
    the committed directory) and must raise, not be broken — even when
    the caller's phase-1 manifest read was stale (committed_ver=None)."""
    from tostore_spark import ToStoreSpark
    from tostore_spark import store as _store
    from tostore_spark.store import ConcurrentWriteError

    wh = str(tmp_path_factory.mktemp("wh_keepclaim"))
    seed = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    seed.update("region", {"r_name": "SEED"}) \
        .where("r_regionkey", "=", 4).execute()
    seed.flush()
    gen = seed._flushed_gen[("default", "region")]
    fs = _store._fs(seed)
    monkeypatch.setattr(_store, "_LOCK_STALE_S", 0)   # every claim "stale"
    with pytest.raises(ConcurrentWriteError, match="already committed"):
        _store._claim_version(fs, wh, "default", "region", gen,
                              "intruder-token", committed_ver=None)
    # the committed version's claim is intact
    import os as _os
    assert _os.path.exists(_store._claim_path(wh, "default", "region", gen))


def test_apply_changes_targets_explicit_space(spark):
    """apply_changes / the row-merge replay address tables by the
    EXPLICIT (space, name) key: a same-named table in the engine's
    ACTIVE space must not absorb a feed aimed at another space."""
    from tostore_spark import ToStoreSpark
    from tostore_spark import store as _store

    db = ToStoreSpark(spark, data_dir=SF)
    df_default = spark.createDataFrame([(1, "d1"), (2, "d2")], ["id", "v"])
    df_tenant = spark.createDataFrame([(1, "t1"), (2, "t2")], ["id", "v"])
    db.register_table("sp_t", df=df_default)
    db.switch_space("tenant_a")
    db.register_table("sp_t", df=df_tenant)

    feed = spark.createDataFrame(
        [(2, "d2", "delete"), (3, "d3", "insert")], ["id", "v", "change"])
    # active space is tenant_a; the feed targets default
    n = _store.apply_changes(db, "sp_t", feed, space="default")
    assert n == 2
    db.switch_space("default")
    got_default = {(r["id"], r["v"]) for r in db.df("sp_t").collect()}
    assert got_default == {(1, "d1"), (3, "d3")}
    db.switch_space("tenant_a")
    got_tenant = {(r["id"], r["v"]) for r in db.df("sp_t").collect()}
    assert got_tenant == {(1, "t1"), (2, "t2")}   # untouched
    # an unknown (space, name) key raises instead of falling back
    with pytest.raises(KeyError):
        _store.apply_changes(db, "sp_t", feed, space="nope")


def test_row_merge_on_row_conflict_policies(spark, tmp_path_factory):
    """Same-ROW concurrent writes resolve per on_row_conflict:
    'error' raises naming the conflicting PK values, 'first_wins'
    keeps the committed writer's rows and documents the superseded
    keys in last_merge_report, 'column_merge' three-way-merges
    update-vs-update overlaps column-wise and raises when both
    writers changed the same column differently."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.schema import (DataType, FieldSchema,
                                      PrimaryKeyConfig, PrimaryKeyType,
                                      TableSchema)
    from tostore_spark.store import ConcurrentWriteError

    wh = str(tmp_path_factory.mktemp("wh_rowpolicy"))

    def mk():
        return ToStoreSpark(spark, data_dir=SF, warehouse=wh)

    seed = mk()
    seed.create_table(TableSchema(
        name="acct",
        fields=[FieldSchema("owner"), FieldSchema("bal", DataType.integer)],
        primary_key=PrimaryKeyConfig(name="id", type=PrimaryKeyType.none)))
    seed.batch_insert("acct", [{"id": i, "owner": f"o{i}", "bal": 10 * i}
                               for i in range(1, 5)])
    seed.flush()

    # --- 'error' (default): both writers update the same row ---------
    a, b = mk(), mk()
    a.update("acct", {"bal": 111}).where("id", "=", 1).execute()
    a.flush()
    b.update("acct", {"bal": 222}).where("id", "=", 1).execute()
    with pytest.raises(ConcurrentWriteError, match=r"conflicting id"):
        b.refresh(row_merge=True)

    # --- 'first_wins': committed row stands, disjoint change replays -
    c = mk()
    c.update("acct", {"bal": 333}).where("id", "=", 1).execute()  # overlap
    c.update("acct", {"bal": 20020}).where("id", "=", 2).execute()  # disjoint
    d = mk()
    d.update("acct", {"bal": 999}).where("id", "=", 1).execute()
    d.flush()                                  # d commits first
    assert c.refresh(row_merge=True,
                     on_row_conflict="first_wins") == ["acct"]
    rep = c.last_merge_report["default/acct"]
    assert rep["policy"] == "first_wins"
    assert rep["n_row_conflicts"] == 1
    assert [str(x) for x in rep["superseded_keys_sample"]] == ["1"]
    c.flush()
    chk = mk()
    got = {str(r["id"]): r["bal"] for r in chk.df("acct").collect()}
    assert got["1"] == 999 and got["2"] == 20020   # d's row won, c's disjoint in

    # --- 'column_merge': disjoint-column updates of the SAME row -----
    e, f = mk(), mk()
    e.update("acct", {"owner": "ELENA"}).where("id", "=", 3).execute()
    f.update("acct", {"bal": 30303}).where("id", "=", 3).execute()
    e.flush()                                  # e commits first
    assert f.refresh(row_merge=True,
                     on_row_conflict="column_merge") == ["acct"]
    assert f.last_merge_report["default/acct"]["policy"] == "column_merge"
    f.flush()
    chk2 = mk()
    r3 = chk2.df("acct").filter("id = 3").collect()[0]
    assert r3["owner"] == "ELENA" and r3["bal"] == 30303  # both survive

    # --- 'column_merge' clash: same column, different values ---------
    g, h = mk(), mk()
    g.update("acct", {"bal": 1}).where("id", "=", 4).execute()
    h.update("acct", {"bal": 2}).where("id", "=", 4).execute()
    g.flush()
    with pytest.raises(ConcurrentWriteError, match="SAME column"):
        h.refresh(row_merge=True, on_row_conflict="column_merge")
    # invalid policy value rejected up front
    with pytest.raises(ValueError, match="on_row_conflict"):
        h.refresh(row_merge=True, on_row_conflict="nope")


def test_flush_row_merge_threads_row_conflict_policy(
        spark, tmp_path_factory):
    """flush(on_conflict='row_merge', on_row_conflict='first_wins')
    auto-retries through the row-merge replay AND applies the same-row
    policy: the loser's overlapping change is superseded (documented in
    last_merge_report), its disjoint change commits, no exception."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.schema import (DataType, FieldSchema,
                                      PrimaryKeyConfig, PrimaryKeyType,
                                      TableSchema)
    from tostore_spark.store import ConcurrentWriteError

    wh = str(tmp_path_factory.mktemp("wh_flushpolicy"))

    def mk():
        return ToStoreSpark(spark, data_dir=SF, warehouse=wh)

    seed = mk()
    seed.create_table(TableSchema(
        name="fp_t",
        fields=[FieldSchema("v", DataType.integer)],
        primary_key=PrimaryKeyConfig(name="id", type=PrimaryKeyType.none)))
    seed.batch_insert("fp_t", [{"id": i, "v": i} for i in range(1, 4)])
    seed.flush()

    a, b = mk(), mk()
    a.update("fp_t", {"v": 100}).where("id", "=", 1).execute()
    b.update("fp_t", {"v": 200}).where("id", "=", 1).execute()  # overlap
    b.update("fp_t", {"v": 222}).where("id", "=", 2).execute()  # disjoint
    a.flush()
    # default policy: the retry loop surfaces the row conflict
    with pytest.raises(ConcurrentWriteError, match="conflicting id"):
        b.flush(on_conflict="row_merge")
    # first_wins: retry succeeds, overlap superseded, disjoint applied
    c = mk()
    c.update("fp_t", {"v": 300}).where("id", "=", 1).execute()  # overlap
    c.update("fp_t", {"v": 333}).where("id", "=", 3).execute()  # disjoint
    d = mk()
    d.update("fp_t", {"v": 999}).where("id", "=", 1).execute()
    d.flush()
    assert c.flush(on_conflict="row_merge",
                   on_row_conflict="first_wins") == ["fp_t"]
    rep = c.last_merge_report["default/fp_t"]
    assert rep["policy"] == "first_wins" and rep["n_row_conflicts"] == 1
    got = {str(r["id"]): r["v"] for r in mk().df("fp_t").collect()}
    assert got["1"] == 999 and got["3"] == 333


def test_write_skew_detected_serializable(spark, tmp_path_factory):
    """The classic write-skew pair: T1 reads nation writes region, T2
    reads region writes nation, T2 commits between T1's read and T1's
    commit.  Under isolation='serializable' the later committer aborts
    with a named (table, read-version, committed-version) triple; a
    retry against the refreshed snapshot then commits the serial
    outcome.  Under the default snapshot isolation both commit (the
    admitted anomaly) — pinned here so the knob's difference is
    observable."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.store import WriteSkewError
    wh = str(tmp_path_factory.mktemp("wh_skew"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)

    def t2(db):
        db.df("region").count()                          # READ region
        db.update("nation", {"n_name": "T2"}) \
          .where("n_nationkey", "=", 0).execute()        # WRITE nation

    state = {"committed_b": False}

    def t1(db):
        db.df("nation").count()                          # READ nation
        if not state["committed_b"]:                     # interleave:
            r2 = b.transaction(t2, retries=0,            # T2 commits
                               isolation="serializable")  # first
            assert r2.success
            state["committed_b"] = True
        db.update("region", {"r_name": "T1"}) \
          .where("r_regionkey", "=", 0).execute()        # WRITE region

    res = a.transaction(t1, retries=0, isolation="serializable")
    assert not res.success and isinstance(res.error, WriteSkewError)
    assert res.error.table == "default/nation"
    assert res.error.read_version == 0
    assert res.error.committed_version == 1
    assert "write-skew" in str(res.error)
    # read-set tracking is off outside the scope
    assert a._txn_read_versions is None
    # T1's write rolled back: region untouched in the warehouse
    assert ToStoreSpark(spark, data_dir=SF, warehouse=wh) \
        .df("region").filter("r_name = 'T1'").count() == 0

    # retry path: refresh picks up T2's nation, then T1 commits — the
    # serial outcome T2 -> T1
    res2 = a.transaction(t1, retries=2, isolation="serializable")
    assert res2.success
    fresh = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert fresh.df("region").filter("r_regionkey = 0") \
        .collect()[0]["r_name"] == "T1"
    assert fresh.df("nation").filter("n_nationkey = 0") \
        .collect()[0]["n_name"] == "T2"


def test_write_skew_admitted_under_snapshot(spark, tmp_path_factory):
    """The same interleave under the DEFAULT snapshot isolation: both
    transactions commit (first-committer-wins admits write-skew) —
    the documented anomaly serializable mode exists to close."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_skew_snap"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)

    def t2(db):
        db.df("region").count()
        db.update("nation", {"n_name": "S2"}) \
          .where("n_nationkey", "=", 0).execute()

    state = {"committed_b": False}

    def t1(db):
        db.df("nation").count()
        if not state["committed_b"]:
            r2 = b.transaction(t2, retries=0)
            assert r2.success
            state["committed_b"] = True
        db.update("region", {"r_name": "S1"}) \
          .where("r_regionkey", "=", 0).execute()

    assert a.transaction(t1, retries=0).success   # anomaly: both commit


def test_serializable_disjoint_reads_both_commit(spark, tmp_path_factory):
    """Two serializable transactions with DISJOINT read+write sets both
    commit on their first flush — the read-set check must not turn the
    per-table CAS into a global serial lock."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_skew_disj"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)

    def t2(db):
        db.update("nation", {"n_name": "D2"}) \
          .where("n_nationkey", "=", 0).execute()   # reads+writes nation

    def t1(db):
        db.update("region", {"r_name": "D1"}) \
          .where("r_regionkey", "=", 0).execute()   # reads+writes region
        r2 = b.transaction(t2, retries=0, isolation="serializable")
        assert r2.success                            # commits mid-T1

    assert a.transaction(t1, retries=0,
                         isolation="serializable").success
    fresh = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert fresh.df("region").filter("r_name = 'D1'").count() == 1
    assert fresh.df("nation").filter("n_name = 'D2'").count() == 1


def test_serializable_requires_retry_form(spark):
    from tostore_spark import ToStoreSpark
    db = ToStoreSpark(spark, data_dir=SF)
    with pytest.raises(ValueError, match="serializable"):
        db.transaction(lambda e: None, isolation="serializable")
    with pytest.raises(ValueError, match="serializable"):
        db.transaction(isolation="serializable")


# ---------------------------------------------------------------- append
# segment fast path (Delta's add-files commit through the versioned dirs)

def test_append_flush_writes_only_the_delta(spark, tmp_path_factory):
    """Insert-only mutations commit a delta SEGMENT: the new version dir
    holds just the appended rows (appending 1 GB to a 100 TB table must
    cost 1 GB of IO), the manifest's segment list composes base + delta,
    and a reopened engine reads the union."""
    from tostore_spark import ToStoreSpark
    db, wh = _fresh(spark, tmp_path_factory, "seg_delta")
    # first mutation + flush = the durable warehouse base (a clean
    # data_dir table has no warehouse dir to segment against)
    db.insert("region", {"r_regionkey": 89, "r_name": "W", "r_comment": "c"})
    db.flush(only=["region"])
    n0 = db.df("region").count()
    db.insert("region", {"r_regionkey": 90, "r_name": "X", "r_comment": "c"})
    db.insert("region", {"r_regionkey": 91, "r_name": "Y", "r_comment": "c"})
    db.flush(only=["region"])
    ent = db._tables[("default", "region")]
    assert len(ent["segments"]) == 2
    delta_only = spark.read.parquet(ent["path"])
    assert delta_only.count() == 2                  # just the delta
    assert db.df("region").count() == n0 + 2
    db2 = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert db2.df("region").count() == n0 + 2


def test_append_rows_engine_api_and_rewrite_poisoning(spark,
                                                      tmp_path_factory):
    """engine.append_rows records the delta; any non-append mutation in
    the same epoch poisons the fast path -> the next flush rewrites in
    full and the segment list collapses to one dir."""
    db, wh = _fresh(spark, tmp_path_factory, "seg_poison")
    db.flush(only=["region"])
    n = db.append_rows("region", db.df("region").limit(1))
    assert n == 1
    db.update("region", {"r_name": "ZZ"}) \
      .where("r_regionkey", "=", 0).execute()       # rewrite mutation
    db.flush(only=["region"])
    ent = db._tables[("default", "region")]
    assert len(ent["segments"]) == 1                # full rewrite
    full = spark.read.parquet(ent["path"])
    assert full.count() == db.df("region").count()


def test_append_time_travel_and_vacuum_protect_base(spark,
                                                    tmp_path_factory):
    """Time travel resolves a segment version through its sidecar; vacuum
    never deletes a base dir still referenced by the current version's
    segment list."""
    from tostore_spark import store as S
    from tostore_spark import ToStoreSpark
    db, wh = _fresh(spark, tmp_path_factory, "seg_tt")
    db.insert("region", {"r_regionkey": 94, "r_name": "U", "r_comment": "c"})
    db.flush(only=["region"])                       # durable base
    n0 = db.df("region").count()
    db.insert("region", {"r_regionkey": 95, "r_name": "V", "r_comment": "c"})
    db.flush(only=["region"])
    vs = S.list_versions(db, "region")
    assert S.read_version(db, "region", vs[0]).count() == n0
    assert S.read_version(db, "region", vs[-1]).count() == n0 + 1
    db.unpin_versions()
    S.vacuum(db, keep=1)                            # keep newest only
    # base dir survives (referenced as a segment), table still whole
    db2 = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert db2.df("region").count() == n0 + 1
    # fsck: nothing missing, base not an orphan
    bad = S.fsck(db2).filter("kind in ('missing_version','orphan_version')")
    assert bad.count() == 0, bad.collect()


def test_append_segments_cap_forces_compaction(spark, tmp_path_factory):
    """Past _MAX_SEGMENTS live segments the flush falls back to a full
    rewrite — amortized auto-compaction bounding reader fan-out."""
    from tostore_spark import store as S
    db, wh = _fresh(spark, tmp_path_factory, "seg_cap")
    db.flush(only=["region"])
    old_cap = S._MAX_SEGMENTS
    S._MAX_SEGMENTS = 3
    try:
        for i in range(4):
            db.insert("region", {"r_regionkey": 80 + i, "r_name": f"S{i}",
                                 "r_comment": "c"})
            db.flush(only=["region"])
        ent = db._tables[("default", "region")]
        # 3rd append hit the cap -> rewrite -> list restarted, then grew
        assert len(ent["segments"]) <= S._MAX_SEGMENTS
        assert spark.read.parquet(ent["segments"][0]).count() > 1
    finally:
        S._MAX_SEGMENTS = old_cap
    assert db.df("region").filter("r_regionkey >= 80").count() == 4


def test_append_fast_path_on_partitioned_table(spark, tmp_path_factory):
    """Segment commits compose with hive partitioning: each segment dir
    is partition-laid-out, the multi-root read keeps the partition
    columns, and pruning still works."""
    from tostore_spark import ToStoreSpark
    db, wh = _fresh(spark, tmp_path_factory, "seg_part")
    src = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], ["id", "pcol", "v"])
    db.register_table("pt", df=src, partition_by=["pcol"])
    db.flush(only=["pt"])
    db.append_rows("pt", spark.createDataFrame(
        [(3, "a", 30)], ["id", "pcol", "v"]))
    db.flush(only=["pt"])
    ent = db._tables[("default", "pt")]
    assert len(ent["segments"]) == 2
    got = {r["id"] for r in db.df("pt").filter("pcol = 'a'").collect()}
    assert got == {1, 3}
    db2 = ToStoreSpark(spark, warehouse=wh)
    assert db2.df("pt").count() == 3
    assert {r["id"] for r in db2.df("pt").filter("pcol = 'a'").collect()} \
        == {1, 3}


# ----------------------------------------------------------- delta hygiene
# (rollback / retry / refresh must not leak append deltas into the flush
# fast path — a leaked delta commits rolled-back rows as a durable segment)

def test_rollback_clears_append_delta(spark, tmp_path_factory):
    """A rolled-back insert's pinned delta must die with the rollback:
    the next flush's fast path would otherwise commit the rolled-back
    rows as a durable append segment (phantom rows)."""
    from tostore_spark import ToStoreSpark
    db, wh = _fresh(spark, tmp_path_factory, "rb_delta")
    # arm the fast path: first mutation + flush = durable base (a clean
    # data_dir table is not dirty, so flushing it alone is a no-op)
    db.insert("region", {"r_regionkey": 99, "r_name": "BASE",
                         "r_comment": "c"})
    db.flush(only=["region"])
    n0 = db.df("region").count()

    def bad(e):
        e.insert("region", {"r_regionkey": 97, "r_name": "GHOST",
                            "r_comment": "c"})
        raise RuntimeError("boom")

    res = db.transaction(bad)
    assert not res.success
    assert db.df("region").count() == n0            # in-memory rollback
    # a legit append after the rollback flushes ONLY itself
    db.insert("region", {"r_regionkey": 98, "r_name": "REAL",
                         "r_comment": "c"})
    db.flush(only=["region"])
    db2 = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    got = db2.df("region")
    assert got.filter("r_name = 'GHOST'").count() == 0
    assert got.filter("r_name = 'REAL'").count() == 1
    assert got.count() == n0 + 1


def test_retry_does_not_double_append_delta(spark, tmp_path_factory):
    """A ConcurrentWriteError retry re-runs the action; the aborted
    attempt's delta must not union with the retry's — the committed
    segment would hold the inserted rows twice."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_retry_delta"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    # arm a's fast path with a durable base flush
    a.insert("region", {"r_regionkey": 99, "r_name": "BASE",
                        "r_comment": "c"})
    a.flush(only=["region"])
    b.refresh()
    n0 = a.df("region").count()
    state = {"interfered": False}

    def act(db):
        db.insert("region", {"r_regionkey": 96, "r_name": "ONCE",
                             "r_comment": "c"})
        if not state["interfered"]:
            state["interfered"] = True
            # concurrent writer commits region -> OUR flush loses CAS
            b.insert("region", {"r_regionkey": 95, "r_name": "OTHER",
                                "r_comment": "c"})
            b.flush(only=["region"])

    res = a.transaction(act, retries=2)
    assert res.success
    fresh = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert fresh.df("region").filter("r_name = 'ONCE'").count() == 1
    assert fresh.df("region").filter("r_name = 'OTHER'").count() == 1
    assert fresh.df("region").count() == n0 + 2


def test_append_rows_casts_divergent_types(spark, tmp_path_factory):
    """A delta whose column TYPE differs from the stored table is cast to
    the stored schema before the segment write — a type-divergent parquet
    segment would break the multi-root read only after the commit."""
    from pyspark.sql import types as T
    from tostore_spark import ToStoreSpark
    db, wh = _fresh(spark, tmp_path_factory, "seg_types")
    base = spark.createDataFrame(
        [(1, 10)], T.StructType([T.StructField("id", T.LongType()),
                                 T.StructField("v", T.LongType())]))
    db.register_table("tt", df=base)
    db.flush(only=["tt"])
    delta = spark.createDataFrame(
        [(2, 20)], T.StructType([T.StructField("id", T.IntegerType()),
                                 T.StructField("v", T.IntegerType())]))
    db.append_rows("tt", delta)
    db.flush(only=["tt"])
    ent = db._tables[("default", "tt")]
    assert len(ent["segments"]) == 2                # fast path taken
    # the delta SEGMENT's physical parquet types must match the base —
    # whether the multi-root read survives divergence is reader luck
    # (footer pick order), so pin the written files directly
    import pyarrow.dataset as pads
    for seg in ent["segments"]:
        sch = pads.dataset(seg).schema
        assert str(sch.field("id").type) == "int64", (seg, sch)
        assert str(sch.field("v").type) == "int64", (seg, sch)
    db2 = ToStoreSpark(spark, warehouse=wh)
    got = db2.df("tt")
    assert [f.dataType.simpleString() for f in got.schema.fields] \
        == ["bigint", "bigint"]
    assert got.count() == 2 and got.agg(F.sum("v")).collect()[0][0] == 30


def test_merge_batch_append_casts_divergent_types(spark, tmp_path_factory):
    """Streaming append fast path conforms batch types to the stored
    schema too (same segment-compatibility contract as append_rows)."""
    from pyspark.sql import types as T
    from tostore_spark import ToStoreSpark
    from tostore_spark.streaming.sink import merge_batch
    db, wh = _fresh(spark, tmp_path_factory, "sink_types")
    base = spark.createDataFrame(
        [(1, 10)], T.StructType([T.StructField("id", T.LongType()),
                                 T.StructField("v", T.LongType())]))
    db.register_table("st", df=base)
    db.flush(only=["st"])
    batch = spark.createDataFrame(
        [(2, 20)], T.StructType([T.StructField("id", T.IntegerType()),
                                 T.StructField("v", T.IntegerType())]))
    assert merge_batch(db, "st", batch, mode="append") == 1
    db.flush(only=["st"])
    assert len(db._tables[("default", "st")]["segments"]) == 2
    db2 = ToStoreSpark(spark, warehouse=wh)
    assert db2.df("st").count() == 2
    assert [f.dataType.simpleString() for f in db2.df("st").schema.fields] \
        == ["bigint", "bigint"]


def test_serializable_predicate_read_ignores_disjoint_write(
        spark, tmp_path_factory):
    """r10 SSI refinement: a serializable transaction whose only read of
    a table went through the query builder WITH a filter commits even
    when a concurrent writer advanced that table — provided the
    concurrent change is row-disjoint from the filter (retries=0: the
    commit must succeed FIRST TRY, not via abort+replay)."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.store import WriteSkewError
    wh = str(tmp_path_factory.mktemp("wh_pred_ssi"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    # nation needs a flushed base version: row-level re-validation diffs
    # the READ version's parquet against the committed one
    b.update("nation", {"n_name": "base"}) \
     .where("n_nationkey", "=", 9).execute()
    b.flush(only=["nation"])
    a.refresh()

    state = {"interfered": False}

    def t1(db):
        got = db.query("nation").where("n_nationkey", "=", 0).run()
        assert len(got.records) == 1
        if not state["interfered"]:
            state["interfered"] = True
            b.update("nation", {"n_name": "B2"}) \
             .where("n_nationkey", "=", 5).execute()   # disjoint row
            b.flush(only=["nation"])
        db.update("region", {"r_name": "P1"}) \
          .where("r_regionkey", "=", 0).execute()

    res = a.transaction(t1, retries=0, isolation="serializable")
    assert res.success, res.error
    fresh = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert fresh.df("region").filter("r_name = 'P1'").count() == 1
    assert fresh.df("nation").filter("n_name = 'B2'").count() == 1

    # the SAME shape with an OVERLAPPING concurrent write still aborts:
    # the changed row matches the recorded predicate
    a2 = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    state2 = {"interfered": False}

    def t2(db):
        db.query("nation").where("n_nationkey", "=", 5).run()
        if not state2["interfered"]:
            state2["interfered"] = True
            b.refresh()
            b.update("nation", {"n_name": "B3"}) \
             .where("n_nationkey", "=", 5).execute()   # SAME row
            b.flush(only=["nation"])
        db.update("region", {"r_name": "P2"}) \
          .where("r_regionkey", "=", 1).execute()

    res2 = a2.transaction(t2, retries=0, isolation="serializable")
    assert not res2.success and isinstance(res2.error, WriteSkewError)


def test_serializable_raw_read_still_whole_table(spark, tmp_path_factory):
    """A raw df() read inside a serializable scope still demands
    whole-table stability — ANY concurrent commit to that table aborts,
    even a row the transaction's later filters never touched (the plan
    could have exposed it)."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.store import WriteSkewError
    wh = str(tmp_path_factory.mktemp("wh_raw_ssi"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b.update("nation", {"n_name": "base"}) \
     .where("n_nationkey", "=", 9).execute()
    b.flush(only=["nation"])
    a.refresh()
    state = {"interfered": False}

    def t1(db):
        db.df("nation").filter("n_nationkey = 0").count()   # raw read
        if not state["interfered"]:
            state["interfered"] = True
            b.update("nation", {"n_name": "B4"}) \
             .where("n_nationkey", "=", 5).execute()
            b.flush(only=["nation"])
        db.update("region", {"r_name": "P3"}) \
          .where("r_regionkey", "=", 2).execute()

    res = a.transaction(t1, retries=0, isolation="serializable")
    assert not res.success and isinstance(res.error, WriteSkewError)


def test_serializable_predicate_count_also_scoped(spark, tmp_path_factory):
    """count() compiles its own plan (not via df()) — its read must
    record the predicate too, so a filtered count doesn't demand
    whole-table stability."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path_factory.mktemp("wh_cnt_ssi"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b.update("nation", {"n_name": "base"}) \
     .where("n_nationkey", "=", 9).execute()
    b.flush(only=["nation"])
    a.refresh()
    state = {"interfered": False}

    def t1(db):
        assert db.query("nation").where("n_nationkey", "=", 0).count() == 1
        if not state["interfered"]:
            state["interfered"] = True
            b.update("nation", {"n_name": "B5"}) \
             .where("n_nationkey", "=", 5).execute()   # disjoint row
            b.flush(only=["nation"])
        db.update("region", {"r_name": "P4"}) \
          .where("r_regionkey", "=", 3).execute()

    res = a.transaction(t1, retries=0, isolation="serializable")
    assert res.success, res.error


def test_flush_lock_steal_guard(spark, tmp_path_factory):
    """The lock's owner-token guard, end to end: a holder whose lock was
    stolen (possible only after a _LOCK_STALE_S heartbeat gap) must
    discover the foreign token at verify() — the call now guarding the
    manifest write — and its release must leave the thief's lock
    untouched."""
    from tostore_spark import fs as fsmod
    from tostore_spark.store import ConcurrentWriteError, FlushLock
    wh = str(tmp_path_factory.mktemp("wh_lock"))
    fs = fsmod.get_fs(wh, spark)
    lock = FlushLock(fs, wh)
    lock.acquire()
    lock.verify()                                 # own token: fine
    thief = FlushLock(fs, wh)
    fs.delete(lock.path)                          # staleness theft
    fs.create_exclusive(lock.path, thief.token)
    with pytest.raises(ConcurrentWriteError, match="stolen"):
        lock.verify()
    lock.release()                                # no-op on foreign token
    assert fs.read_text(lock.path) == thief.token
    thief.release()


def test_serializable_cached_read_still_recorded(spark, tmp_path_factory):
    """A query-cache HIT is still a read: a serializable transaction
    whose only read of a table was served from the cache must still
    abort when a concurrent commit overlaps that read (without the
    recording fix the read-set missed the table entirely and write-skew
    was ADMITTED)."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.store import WriteSkewError
    wh = str(tmp_path_factory.mktemp("wh_cache_ssi"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b.update("nation", {"n_name": "base"}) \
     .where("n_nationkey", "=", 9).execute()
    b.flush(only=["nation"])
    a.refresh()
    # warm the cache OUTSIDE the transaction: the in-txn run() is a hit
    warm = a.query("nation").where("n_nationkey", "=", 5) \
            .use_query_cache().run()
    assert len(warm.records) == 1
    assert a.query_cache.hits >= 0
    state = {"interfered": False}

    def t1(db):
        h0 = db.query_cache.hits
        got = db.query("nation").where("n_nationkey", "=", 5) \
                .use_query_cache().run()          # CACHE HIT read
        assert db.query_cache.hits == h0 + 1      # really served cached
        assert len(got.records) == 1
        if not state["interfered"]:
            state["interfered"] = True
            b.refresh()
            b.update("nation", {"n_name": "CLOBBER"}) \
             .where("n_nationkey", "=", 5).execute()   # overlapping row
            b.flush(only=["nation"])
        db.update("region", {"r_name": "C1"}) \
          .where("r_regionkey", "=", 4).execute()

    res = a.transaction(t1, retries=0, isolation="serializable")
    assert not res.success and isinstance(res.error, WriteSkewError)


def test_serializable_sql_reads_recorded(spark, tmp_path_factory):
    """engine.sql() inside a serializable scope records every visible
    table as a whole-table read (the SQL could reference any view) —
    the escape hatch cannot bypass the read-set."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.store import WriteSkewError
    wh = str(tmp_path_factory.mktemp("wh_sql_ssi"))
    a = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    b.update("nation", {"n_name": "base"}) \
     .where("n_nationkey", "=", 9).execute()
    b.flush(only=["nation"])
    a.refresh()
    state = {"interfered": False}

    def t1(db):
        db.sql("SELECT count(*) FROM nation").collect()
        if not state["interfered"]:
            state["interfered"] = True
            b.refresh()
            b.update("nation", {"n_name": "B6"}) \
             .where("n_nationkey", "=", 5).execute()
            b.flush(only=["nation"])
        db.update("region", {"r_name": "S5"}) \
          .where("r_regionkey", "=", 0).execute()

    res = a.transaction(t1, retries=0, isolation="serializable")
    assert not res.success and isinstance(res.error, WriteSkewError)


def test_concurrent_writer_scripted_stress(spark, tmp_path_factory):
    """Scripted-random 3-writer stress (seeded, deterministic): each
    round every engine mutates its own key range of a shared table
    (disjoint-row writers) and flushes with the row-merge retry loop.
    End invariants: every committed row present exactly once in a fresh
    engine, fsck reports nothing missing/orphaned, and the manifest
    sequence advanced once per successful flush."""
    import random

    from tostore_spark import ToStoreSpark
    from tostore_spark import store as S

    wh = str(tmp_path_factory.mktemp("wh_stress"))
    base = spark.createDataFrame(
        [(i, 0) for i in range(30)], "id long, v long")
    seed_engine = ToStoreSpark(spark, warehouse=wh)
    seed_engine.register_table("t", df=base)
    seed_engine.flush()

    engines = [ToStoreSpark(spark, warehouse=wh) for _ in range(3)]
    rng = random.Random(7)
    expected = {i: 0 for i in range(30)}
    next_id = 100
    for rnd in range(6):
        order = list(range(3))
        rng.shuffle(order)
        for w in order:
            db = engines[w]
            # each writer owns ids ≡ w (mod 3): row-disjoint by design
            own = [i for i in expected if i < 100 and i % 3 == w]
            op = rng.choice(["update", "insert", "update"])
            if op == "update":
                tgt = rng.choice(own)
                bump = rng.randint(1, 9)
                df = db.df("t")
                db.set_df("t", df.withColumn(
                    "v", F.when(F.col("id") == tgt,
                                F.col("v") + bump).otherwise(F.col("v"))))
                expected[tgt] += bump
            else:
                rid = next_id + w          # writer-unique id
                next_id += 10
                db.append_rows("t", spark.createDataFrame(
                    [(rid, rnd)], "id long, v long"))
                expected[rid] = rnd
            # commit with the standard loser-retry loop
            for _ in range(4):
                try:
                    db.flush(only=["t"])
                    break
                except S.ConcurrentWriteError:
                    db.refresh(row_merge=True)
            else:
                raise AssertionError("writer starved after 4 retries")

    fresh = ToStoreSpark(spark, warehouse=wh)
    got = {r["id"]: r["v"] for r in fresh.df("t").collect()}
    assert got == expected, (
        {k: (got.get(k), expected.get(k))
         for k in set(got) ^ set(expected) | {k for k in expected
                                              if got.get(k) != expected[k]}})
    assert fresh.df("t").count() == len(expected)   # no duplicate rows
    # retained history is a VACUUM CANDIDATE by design (fsck calls it
    # orphan_version); after vacuum the warehouse must be fully clean
    fresh.unpin_versions()
    S.vacuum(fresh, keep=1)
    bad = S.fsck(fresh).filter(
        "kind in ('missing_version','orphan_version','empty_version')")
    assert bad.count() == 0, bad.collect()
    assert {r["id"]: r["v"] for r in
            ToStoreSpark(spark, warehouse=wh).df("t").collect()} == expected


def test_serializable_on_call_invariant(spark, tmp_path_factory):
    """The canonical write-skew scenario (the on-call doctors), in the
    shape this engine can actually admit it: each doctor's row lives in
    its OWN table (disjoint write sets — same-table writers are already
    serialized by the per-table CAS).  Each transaction counts doctors
    on call across BOTH tables and takes ITS OWN row off only if >= 2.
    Snapshot isolation: the interleaved pair both commit and the
    invariant breaks (0 on call) — the admitted anomaly, pinned.
    Serializable: the later committer's READ of the other doctor's
    table was predicate-scoped (on_call = 1) and the concurrent commit
    changed exactly a matching row, so it aborts; the retry re-reads
    (1 on call) and no-ops — the invariant holds."""
    from tostore_spark import ToStoreSpark

    def setup(tag):
        wh = str(tmp_path_factory.mktemp(f"wh_oncall_{tag}"))
        seed = ToStoreSpark(spark, warehouse=wh)
        for d in (1, 2):
            seed.register_table(f"oncall_{d}", df=spark.createDataFrame(
                [(d, 1)], "id long, on_call long"))
        seed.flush()
        return wh

    def doctor(me):
        def act(db):
            n_on = sum(
                db.query(f"oncall_{d}").where("on_call", "=", 1).count()
                for d in (1, 2))
            if n_on >= 2:
                db.set_df(f"oncall_{me}", db.df(f"oncall_{me}")
                          .withColumn("on_call", F.lit(0)))
        return act

    def run_pair(isolation):
        wh = setup(isolation)
        a = ToStoreSpark(spark, warehouse=wh)
        b = ToStoreSpark(spark, warehouse=wh)
        state = {"interfered": False}

        def t1(db):
            doctor(1)(db)
            if not state["interfered"]:
                state["interfered"] = True
                r = b.transaction(doctor(2), retries=2,
                                  isolation=isolation)
                assert r.success
        res = a.transaction(t1, retries=2, isolation=isolation)
        assert res.success, res.error
        fresh = ToStoreSpark(spark, warehouse=wh)
        return sum(fresh.df(f"oncall_{d}").filter("on_call = 1").count()
                   for d in (1, 2))

    assert run_pair("snapshot") == 0       # anomaly: nobody on call
    assert run_pair("serializable") == 1   # invariant preserved


def test_clear_is_durable(spark, tmp_path_factory):
    """r17 fix: clear() must bump the generation (rewrite-dirty) so
    the NEXT flush persists the empty state — before this, clear +
    flush + reopen resurrected every flushed row, and an incremental
    exporter saw a clear+reinsert as a pure-append extension."""
    from tostore_spark import ToStoreSpark
    db, wh = _fresh(spark, tmp_path_factory, "clear_durable")
    db.update("nation", {"n_name": "X"}) \
      .where("n_nationkey", "=", 0).execute()
    db.flush()
    db.clear("nation")
    assert db.df("nation").count() == 0
    assert db.flush() == ["nation"], "clear must dirty the table"
    db2 = ToStoreSpark(spark, data_dir=SF, warehouse=wh)
    assert db2.df("nation").count() == 0, \
        "reopen resurrected cleared rows"
    # clear + reinsert exports as a REFRESH, never a pure append
    db.batch_insert("nation", [{"n_nationkey": 900,
                                "n_name": "NEW", "n_regionkey": 0,
                                "n_comment": "c"}])
    db.flush()
    assert db.df("nation").count() == 1


def _pk_table(spark, wh):
    """A PK'd warehouse table whose frame carries non-nullable and
    nested columns, flushed once (the rewrite base)."""
    from pyspark.sql import types as T

    from tostore_spark import ToStoreSpark
    from tostore_spark.schema import (DataType, FieldSchema,
                                      PrimaryKeyConfig, TableSchema)
    db = ToStoreSpark(spark, warehouse=wh)
    sch = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("v", T.ArrayType(T.DoubleType(), False), True)])
    df = spark.createDataFrame(
        [(f"k{i:02d}", i, [float(i)]) for i in range(10)], sch)
    db.register_table("t", df=df, schema=TableSchema(
        name="t", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="n", type=DataType.bigInt),
                FieldSchema(name="v", type=DataType.vector)]))
    db.flush()
    return db


class _JobsInReads:
    """Counts the Spark jobs started INSIDE ``ToStoreSpark._read_parquet``
    calls: building a parquet read starts a job only to infer its
    schema, so with recorded schemas the count stays zero."""

    def __init__(self, spark, monkeypatch):
        from tostore_spark.engine import ToStoreSpark
        self.sc = spark.sparkContext
        self.jobs = 0
        orig = ToStoreSpark._read_parquet

        def counted(eng, *a, **kw):
            group = "schema-pin-probe"
            self.sc.setJobGroup(group, "")
            before = set(self.sc.statusTracker().getJobIdsForGroup(group))
            try:
                return orig(eng, *a, **kw)
            finally:
                self.jobs += len(set(self.sc.statusTracker()
                                     .getJobIdsForGroup(group)) - before)
                self.sc.setLocalProperty("spark.jobGroup.id", None)

        monkeypatch.setattr(ToStoreSpark, "_read_parquet", counted)


def test_flush_reloads_without_schema_inference(spark, tmp_path,
                                                monkeypatch):
    """Every flush records the schemas it wrote (``_schema.json``), so
    the reload of an append, a delete-vector and a replace epoch — and a
    reopen — build their reads without one schema-inference job; a
    version whose record is gone falls back to inferring (which the
    probe sees)."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path / "wh")
    db = _pk_table(spark, wh)
    probe = _JobsInReads(spark, monkeypatch)
    db.batch_insert("t", [{"id": "a1", "n": 100, "v": [1.0]}])
    db.flush()                                      # append segment
    db.delete("t").where("n", "<", 2).execute()
    db.flush()                                      # deletion vector
    db.update("t", {"n": 7}).where("id", "=", "k05").execute()
    db.batch_insert("t", [{"id": "a2", "n": 101, "v": None}])
    db.flush()                                      # replace epoch
    ent = db._tables[("default", "t")]
    assert [k for k, _ in ent["ops"]] == ["seg", "seg", "del", "del",
                                          "seg"]
    assert db.query("t").where("n", ">=", 100).count() == 2   # pruned
    db2 = ToStoreSpark(spark, warehouse=wh)
    rows = {r["id"]: r["n"] for r in db2.df("t").collect()}
    assert probe.jobs == 0
    assert len(rows) == 10 and rows["k05"] == 7 and "k01" not in rows
    # the sensitivity check: without records the same reload infers
    for root in {p for _k, p in ent["ops"]}:
        os.remove(os.path.join(root, "_schema.json"))
    ToStoreSpark(spark, warehouse=wh).df("t")
    assert probe.jobs > 0


def test_pinned_reload_schema_equals_inferred(spark, tmp_path):
    """A reload pinned to the recorded schema has exactly the schema
    (nullability included) Spark infers from the same files, and a
    multi-segment recipe stays ONE multi-root scan."""
    from tostore_spark import ToStoreSpark
    wh = str(tmp_path / "wh")
    db = _pk_table(spark, wh)
    db.batch_insert("t", [{"id": "a1", "n": 100, "v": [1.0, 2.0]}])
    db.flush()
    ent = db._tables[("default", "t")]
    segs = [p for _k, p in ent["ops"]]
    assert len(segs) == 2
    inferred = spark.read.parquet(*segs).schema
    assert ent["df"].schema == inferred
    assert ToStoreSpark(spark, warehouse=wh).df("t").schema == inferred
    plan = ent["df"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    db.delete("t").where("id", "=", "k03").execute()
    db.flush()
    assert db._tables[("default", "t")]["df"].schema == inferred
