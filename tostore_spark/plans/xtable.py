"""Iceberg → Delta reverse bridge — cross-format sync over shared files.

The repo's UniForm rung (``plans/iceberg.convert_delta_to_iceberg`` +
``sync_delta_to_iceberg``) keeps a DELTA table readable as Iceberg.
This module is the OTHER direction, the shape Apache XTable
(incubating) popularized: catalog an existing ICEBERG table's current
snapshot as a Delta table over the SAME parquet files
(``convert_iceberg_to_delta``), then fold every new Iceberg snapshot
into an incremental Delta commit (``sync_iceberg_to_delta``) — appends
as ``add`` actions, merge-on-read position deletes as Delta DELETION
VECTORS (roaring bitmaps via ``plans/delta_dv``), compactions as
``dataChange=false`` rewrites, and additive / drop / type-widening
schema evolution as metaData commits.  No data is ever copied or
rewritten in either direction.

Everything derives from the PUBLIC Delta PROTOCOL.md and the Iceberg
Table Spec (both already implemented in this repo); Apache XTable is
cited as the public precedent for the sync DIRECTION only — no code
is shared.

Refusals (never a silent divergence):

* equality deletes — Delta has no equality-delete concept; positions
  would need a data scan to materialize (``rewrite_data_files``
  materializes them, then sync);
* rename history — Delta resolves columns BY NAME and post/pre-rename
  files disagree physically; a single global column mapping cannot
  describe per-file names;
* partition evolution / non-identity transforms — Delta has one
  global ``partitionColumns`` list and its values must be column
  values;
* data files outside the table root — Delta add paths here are
  table-relative.

Maintenance: the ICEBERG side owns the files — ``optimize_delta`` and
``vacuum_delta`` REFUSE on reverse bridges (a delta-side rewrite would
be clobbered by the next sync; a delta-side vacuum could delete files
Iceberg snapshots reference), and ``remove_orphan_files`` already
refuses on any directory with a ``_delta_log``.  Run
``rewrite_data_files`` / ``expire_snapshots`` and sync; after an expire, STALE delta versions may fail at a missing
file — the same contract Delta's own VACUUM gives time travel.

Change data feed: the reverse bridge does NOT maintain cdc files
(deriving them would cost a row scan per delete commit — exactly what
the metadata-only bridge exists to avoid).  Subscribers should consume
``read_iceberg_changes`` on the Iceberg side; ``read_delta_cdf`` on a
reverse bridge refuses upfront (no ``delta.enableChangeDataFeed``).

Scale contract: conversion and every sync are DRIVER-SIDE METADATA
ops — one footer read per newly-added file (∝ new files), one
pos-delete parquet decode per delete snapshot (∝ deleted rows, capped
at ``delta_dv.MAX_TOTAL_POSITIONS``), zero row IO.  A pure-append
Iceberg commit folds as one add-actions commit without reading
anything but the new footers.

Reference parity note: the reference engine (tocreator/tostore) has no
table-format interop; both bridge directions are parity-plus under the
same "escape hatch into the open ecosystem" goal (SURVEY §2.12).
"""
from __future__ import annotations

import json
import os
import time
import uuid
from urllib.parse import quote

from tostore_spark.fs import local_path

__all__ = ["convert_iceberg_to_delta", "sync_iceberg_to_delta",
           "REVERSE_BRIDGE_PROP"]

REVERSE_BRIDGE_PROP = "tostore.bridge.iceberg-snapshot"


# ---------------------------------------------------------------- utils

def _rel_to_root(fp: str, root: str) -> str:
    rel = os.path.relpath(fp, root)
    if rel.startswith(".."):
        raise ValueError(
            f"iceberg data file {fp} lives outside the table root "
            f"{root} — Delta add paths are table-relative; re-export "
            "the table under its own location")
    return rel.replace(os.sep, "/")


def _delta_part_str(v, ice_type: str):
    """One manifest partition value → Delta's partition-value string
    serialization (PROTOCOL.md "Partition Value Serialization").
    Manifest temporals ride Iceberg's physical encodings (date =
    days-from-epoch int, timestamp = micros long)."""
    import datetime as _dt
    if v is None:
        return None
    if ice_type == "date":
        return (_dt.date(1970, 1, 1)
                + _dt.timedelta(days=int(v))).isoformat()
    if ice_type in ("timestamp", "timestamptz"):
        ts = (_dt.datetime(1970, 1, 1)
              + _dt.timedelta(microseconds=int(v)))
        return ts.strftime("%Y-%m-%d %H:%M:%S.%f")
    if ice_type == "boolean":
        return "true" if v else "false"
    if isinstance(v, bytes):
        raise ValueError("binary partition values are not "
                         "serializable into Delta partitionValues")
    return str(v)


def _live_spec(meta: dict, data: list, fspec: dict):
    """The ONE partition spec every live data file was written under
    (refuses mixed specs — partition evolution cannot express in
    Delta), returned as ``(identity_source_names, {name: ice_type})``.
    An empty spec returns ``([], {})``."""
    from tostore_spark.plans.iceberg import _current_schema
    spec_ids = {fspec.get(fp, 0) for fp, _s in data} or {0}
    if len(spec_ids) > 1:
        raise ValueError(
            f"live files span partition specs {sorted(spec_ids)} — "
            "partition evolution cannot express in Delta's single "
            "partitionColumns list; rewrite under one spec "
            "(rewrite_data_files) first")
    sid = spec_ids.pop()
    specs = meta.get("partition-specs") or [
        {"spec-id": 0, "fields": meta.get("partition-spec") or []}]
    spec = next((s for s in specs if int(s.get("spec-id", 0)) == sid),
                {"fields": []})
    fields = spec.get("fields") or []
    schema_json = _current_schema(meta)
    by_id = {int(f["id"]): f for f in schema_json["fields"]}
    names, types = [], {}
    for pf in fields:
        if (pf.get("transform") or "identity") != "identity":
            raise ValueError(
                f"partition transform {pf.get('transform')!r} is not "
                "identity — its values are not column values and "
                "cannot express in Delta partitionValues")
        src = by_id.get(int(pf["source-id"]))
        if src is None:
            raise ValueError(
                f"partition source field id {pf['source-id']} is not "
                "in the current schema")
        names.append(pf.get("name") or src["name"])
        types[pf.get("name") or src["name"]] = src["type"]
    return names, types


def _refuse_renames(meta: dict) -> None:
    """Delta resolves columns BY NAME: any field id that ever changed
    its name leaves pre/post-rename files physically disagreeing —
    a single global mapping cannot describe that."""
    schemas = meta.get("schemas")
    if not schemas:
        return
    seen: dict[int, str] = {}
    for s in schemas:
        for f in s.get("fields") or []:
            fid = int(f["id"])
            if fid in seen and seen[fid] != f["name"]:
                raise ValueError(
                    f"field id {fid} was renamed "
                    f"({seen[fid]!r} → {f['name']!r}) in the table's "
                    "history — Delta readers resolve by NAME and the "
                    "files disagree physically; rewrite the table "
                    "(rewrite_data_files) before bridging to Delta")
            seen.setdefault(fid, f["name"])


def _dead_positions(pos_del: list, data: list, location: str) -> dict:
    """Decode the snapshot's position-delete parquet files into
    ``{normalized data path: {dead positions}}``, honoring the spec's
    application rule (``delete_seq >= data_seq``).  Driver-side
    pyarrow decode, ∝ deleted rows, capped at
    ``MAX_TOTAL_POSITIONS``."""
    import pyarrow.parquet as pq

    from tostore_spark.plans.delta_dv import MAX_TOTAL_POSITIONS
    if not pos_del:
        return {}
    seq_of = dict(data)
    dead: dict[str, set] = {}
    total = 0
    for fp, dseq in pos_del:
        t = pq.read_table(fp, columns=["file_path", "pos"])
        total += t.num_rows
        if total > MAX_TOTAL_POSITIONS:
            raise ValueError(
                f"more than {MAX_TOTAL_POSITIONS} deleted positions "
                "in the live delete files — over the driver bound; "
                "compact (rewrite_data_files) first")
        for raw, pos in zip(t.column("file_path").to_pylist(),
                            t.column("pos").to_pylist()):
            dp = local_path(str(raw))
            if not os.path.isabs(dp):
                dp = os.path.join(local_path(location), dp)
            if dp in seq_of and dseq >= seq_of[dp]:
                dead.setdefault(dp, set()).add(int(pos))
    return dead


def _file_add_action(fp: str, root: str, pvals: dict,
                     dead: set | None, ts_ms: int,
                     data_change: bool = True) -> dict:
    """One data file → a Delta ``add`` action with footer stats (and
    a deletion-vector descriptor when ``dead`` is non-empty)."""
    import pyarrow.parquet as pq

    from tostore_spark.plans.delta_dv import make_descriptor
    from tostore_spark.plans.delta_export import (_delta_stats,
                                                  _loose_stats)
    from tostore_spark.plans.skipping import _fold_file
    rel = _rel_to_root(fp, root)
    try:
        summ = _fold_file(pq.ParquetFile(fp).metadata, temporal=True)
    except Exception:
        summ = {"rows": int(pq.ParquetFile(fp).metadata.num_rows),
                "cols": {}}
    add = {"path": quote(rel, safe="/="),
           "partitionValues": pvals,
           "size": os.path.getsize(fp),
           "modificationTime": int(os.path.getmtime(fp) * 1000),
           "dataChange": bool(data_change),
           "stats": _delta_stats(summ)}
    if dead:
        add["deletionVector"] = make_descriptor(root, sorted(dead))
        add["stats"] = _loose_stats(add["stats"])
    return add


def _pvals_for(fp: str, parts: dict, pnames: list,
               ptypes: dict) -> dict:
    pv = parts.get(fp) or {}
    return {n: _delta_part_str(pv.get(n), ptypes[n]) for n in pnames}


def _num_records(fp: str) -> int:
    import pyarrow.parquet as pq
    return int(pq.ParquetFile(fp).metadata.num_rows)


def _schema_string(meta: dict) -> str:
    from tostore_spark.plans.iceberg import (_current_schema,
                                             _schema_to_spark,
                                             _strip_field_ids)
    return _strip_field_ids(
        _schema_to_spark(_current_schema(meta))).json()


def _schema_string_for(schema_json: dict) -> str:
    from tostore_spark.plans.iceberg import (_schema_to_spark,
                                             _strip_field_ids)
    return _strip_field_ids(_schema_to_spark(schema_json)).json()


# ----------------------------------------------------------- conversion

def convert_iceberg_to_delta(spark, path: str) -> dict:
    """IN-PLACE conversion of an Iceberg table (exported or converted
    by this repo, or foreign with parquet files under its own root)
    into a Delta table over the SAME files: commit v0 catalogs the
    current snapshot's live data files as ``add`` actions with footer
    stats, folds live POSITION deletes into Delta deletion-vector
    descriptors (roaring bitmaps — foreign Delta readers with
    ``deletionVectors`` support read the same live rows), and maps
    identity partition values into ``partitionValues``.  Zero data IO.

    The Delta ``configuration`` records the bridged snapshot id
    (``tostore.bridge.iceberg-snapshot``); ``sync_iceberg_to_delta``
    folds every later Iceberg snapshot incrementally.  The commit
    timestamp rides the snapshot's ``timestamp-ms`` so time travel
    agrees across formats.

    Refusals: an existing ``_delta_log``, equality deletes
    (``rewrite_data_files`` materializes them first), rename history,
    mixed partition specs, non-identity transforms, files outside the
    table root (see module docstring)."""
    from tostore_spark.plans.delta_export import (_maybe_checkpoint,
                                                  _write_commit)
    from tostore_spark.plans.iceberg import (_load_metadata,
                                             _pick_snapshot,
                                             _scan_files)
    p = local_path(path)
    log_dir = os.path.join(p, "_delta_log")
    if os.path.isdir(log_dir) and os.listdir(log_dir):
        raise ValueError(f"{p} already has a _delta_log — refusing "
                         "to re-convert (is this already a Delta "
                         "table or a delta→iceberg bridge?)")
    meta = _load_metadata(p)
    _refuse_renames(meta)
    snap = _pick_snapshot(meta)
    location = meta.get("location") or p
    now_ms = int(time.time() * 1000)
    ts_ms = int(snap["timestamp-ms"]) if snap else now_ms
    adds, has_dv = [], False
    pnames: list = []
    if snap is not None:
        fspec: dict = {}
        data, pos_del, eq_del, parts, _fs = _scan_files(
            meta, snap, location, fspec_out=fspec)
        if eq_del:
            raise ValueError(
                "the current snapshot carries EQUALITY delete files — "
                "Delta cannot express them without a data scan; run "
                "rewrite_data_files (materializes "
                "the deletes) and convert again")
        pnames, ptypes = _live_spec(meta, data, fspec)
        dead = _dead_positions(pos_del, data, location)
        for fp, _seq in sorted(data):
            d = dead.get(fp)
            if d and len(d) >= _num_records(fp):
                continue                       # fully-deleted file
            adds.append({"add": _file_add_action(
                fp, p, _pvals_for(fp, parts, pnames, ptypes),
                d, ts_ms)})
            has_dv = has_dv or bool(d)
    if has_dv:
        protocol = {"minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"]}
    else:
        protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
    sid = int(snap["snapshot-id"]) if snap else -1
    actions = [
        {"commitInfo": {"timestamp": ts_ms, "operation": "CONVERT"}},
        {"protocol": protocol},
        {"metaData": {
            "id": uuid.uuid4().hex,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema_string(meta),
            "partitionColumns": list(pnames),
            "configuration": {REVERSE_BRIDGE_PROP: str(sid)},
            "createdTime": now_ms}},
    ] + adds
    _write_commit(p, 0, actions)
    _maybe_checkpoint(p, 0)
    return {"path": p, "version": 0, "files": len(adds),
            "snapshot_id": sid, "partition_columns": list(pnames),
            "dv_files": sum(1 for a in adds
                            if a["add"].get("deletionVector"))}


# ----------------------------------------------------------------- sync

def sync_iceberg_to_delta(spark, path: str) -> dict:
    """Bring a ``convert_iceberg_to_delta`` bridge CURRENT: fold every
    Iceberg snapshot since the last bridged one into an incremental
    Delta commit over the SAME files — the reverse of
    ``sync_delta_to_iceberg`` (together they close the loop XTable
    runs as a service).

    Per snapshot (main ancestry, oldest → newest):

    * pure appends → one commit of ``add`` actions (footer stats; one
      footer read per NEW file, nothing else opened);
    * new/changed position deletes → a deletion-vector commit:
      ``remove`` + re-``add`` with the file's COMPLETE dead-position
      bitmap (Delta DV descriptors replace, never merge); a fully
      dead file becomes a bare ``remove``; vectors that SHRANK
      (a foreign restore) re-add with the smaller bitmap — Delta
      allows a data-changing DV replacement;
    * ``replace`` (compaction) snapshots → ``remove``/``add`` with
      ``dataChange=false`` (CDF-invisible, like optimize);
    * anything else with both adds and removes → an overwrite commit;
    * an INTERMEDIATE snapshot with live equality deletes gets NO
      Delta version — the next clean snapshot (an optimize that
      materialized them) folds as the net diff; only a CURRENT
      snapshot still carrying equality deletes refuses;
    * schema evolution between snapshots → the new ``schemaString``
      rides the same commit's ``metaData`` (additive / drop /
      type-widening only — renames refuse, see module docstring; a
      widen also raises the protocol with the ``typeWidening``
      feature so foreign readers gate correctly).

    The bridged snapshot id advances in ``configuration`` with each
    commit; snapshot timestamps ride into commit timestamps.
    Refusals as in conversion, plus a bridged snapshot that has been
    expired (re-convert) or a diverged main ancestry."""
    from tostore_spark.plans.delta_export import (_maybe_checkpoint,
                                                  _replay,
                                                  _write_commit)
    from tostore_spark.plans.iceberg import (_load_metadata,
                                             _pick_snapshot,
                                             _scan_files,
                                             _schema_for_snapshot)
    p = local_path(path)
    state = _replay(p)
    meta_d = dict(state["meta"])
    conf = dict(meta_d.get("configuration") or {})
    if REVERSE_BRIDGE_PROP not in conf:
        raise ValueError(
            f"{p} is not an iceberg→delta bridge (no "
            f"{REVERSE_BRIDGE_PROP} in the Delta configuration) — "
            "convert_iceberg_to_delta first")
    bridged = int(conf[REVERSE_BRIDGE_PROP])
    meta = _load_metadata(p)
    _refuse_renames(meta)
    location = meta.get("location") or p
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    cur = _pick_snapshot(meta)
    chain = []
    if cur is not None and int(cur["snapshot-id"]) != bridged:
        node = int(cur["snapshot-id"])
        while node != bridged:
            if node not in snaps:
                raise ValueError(
                    f"snapshot {node} missing from metadata — "
                    "history expired past the bridged snapshot; "
                    "re-convert")
            s = snaps[node]
            chain.append(s)
            parent = s.get("parent-snapshot-id")
            if parent is None:
                if bridged != -1:
                    raise ValueError(
                        f"bridged snapshot {bridged} is not an "
                        f"ancestor of {cur['snapshot-id']} — "
                        "diverged history; re-convert")
                break
            node = int(parent)
        chain.reverse()

    # previous state (at the bridged snapshot)
    if bridged in snaps:
        fspec0: dict = {}
        pdata, ppos, peq, _pp, _fs0 = _scan_files(
            meta, snaps[bridged], location, fspec_out=fspec0)
        prev_files = dict(pdata)
        prev_dead = _dead_positions(ppos, pdata, location)
        prev_schema_id = _schema_for_snapshot(
            meta, snaps[bridged]).get("schema-id", 0)
    else:
        prev_files, prev_dead, prev_schema_id = {}, {}, None

    version = int(state["version"])
    committed = 0
    proto0 = state.get("protocol")
    has_dv_already = bool(proto0 and "deletionVectors" in
                          (proto0.get("readerFeatures") or []))
    widened_already = bool(proto0 and "typeWidening" in
                           (proto0.get("readerFeatures") or []))
    for snap in chain:
        fspec: dict = {}
        data, pos_del, eq_del, parts, _fs = _scan_files(
            meta, snap, location, fspec_out=fspec)
        if eq_del:
            # an INTERMEDIATE snapshot with live equality deletes
            # gets NO delta version — the next clean snapshot (e.g.
            # an optimize that materialized the deletes) folds as the
            # net diff against the last folded state; only a CURRENT
            # snapshot still carrying them refuses
            if snap is chain[-1]:
                raise ValueError(
                    f"snapshot {snap['snapshot-id']} carries "
                    "EQUALITY delete files — Delta cannot express "
                    "them; rewrite_data_files first, then sync")
            continue
        pnames, ptypes = _live_spec(meta, data, fspec)
        if pnames != list(meta_d.get("partitionColumns") or []):
            raise ValueError(
                "the partition layout changed since conversion — "
                "Delta cannot follow partition evolution; re-convert")
        files = dict(data)
        dead = _dead_positions(pos_del, data, location)
        ts_ms = int(snap["timestamp-ms"])
        op = (snap.get("summary") or {}).get("operation") or ""
        data_change = op != "replace"
        sj = _schema_for_snapshot(meta, snap)
        schema_changed = sj.get("schema-id", 0) != prev_schema_id \
            and prev_schema_id is not None
        widen_now = False
        if schema_changed:
            # rename already refused table-wide; detect a widen to
            # carry the typeWidening feature
            prev_sj = next(
                (s for s in meta.get("schemas") or []
                 if s.get("schema-id", 0) == prev_schema_id), None)
            if prev_sj is not None:
                old_t = {int(f["id"]): f["type"]
                         for f in prev_sj["fields"]}
                widen_now = any(
                    old_t.get(int(f["id"])) is not None
                    and old_t[int(f["id"])] != f["type"]
                    for f in sj["fields"])
        added = sorted(fp for fp in files if fp not in prev_files)
        removed = sorted(fp for fp in prev_files if fp not in files)
        touched = sorted(fp for fp in files
                         if fp in prev_files
                         and dead.get(fp, set())
                         != prev_dead.get(fp, set()))
        actions = [{"commitInfo": {
            "timestamp": ts_ms,
            "operation": {"append": "WRITE", "delete": "DELETE",
                          "replace": "OPTIMIZE",
                          "overwrite": "WRITE"}.get(op, "WRITE")}}]
        need_dv = bool(dead) and not has_dv_already
        need_widen = widen_now and not widened_already
        if need_dv or need_widen:
            rfeats = set((proto0 or {}).get("readerFeatures") or [])
            wfeats = set((proto0 or {}).get("writerFeatures") or [])
            if need_dv:
                rfeats.add("deletionVectors")
                wfeats.add("deletionVectors")
                has_dv_already = True
            if need_widen:
                rfeats.add("typeWidening")
                wfeats.add("typeWidening")
                widened_already = True
            proto0 = {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": sorted(rfeats),
                      "writerFeatures": sorted(wfeats)}
            actions.append({"protocol": proto0})
        conf[REVERSE_BRIDGE_PROP] = str(int(snap["snapshot-id"]))
        meta_d = dict(meta_d,
                      schemaString=(_schema_string_for(sj)
                                    if schema_changed
                                    else meta_d["schemaString"]),
                      configuration=dict(conf))
        actions.append({"metaData": meta_d})
        now_ms = int(time.time() * 1000)
        for fp in removed:
            actions.append({"remove": {
                "path": quote(_rel_to_root(fp, p), safe="/="),
                "deletionTimestamp": now_ms,
                "dataChange": data_change}})
        for fp in touched:
            actions.append({"remove": {
                "path": quote(_rel_to_root(fp, p), safe="/="),
                "deletionTimestamp": now_ms,
                "dataChange": True}})
            d = dead.get(fp)
            if d and len(d) >= _num_records(fp):
                continue                       # fully dead: no re-add
            actions.append({"add": _file_add_action(
                fp, p, _pvals_for(fp, parts, pnames, ptypes),
                d, ts_ms)})
        for fp in added:
            d = dead.get(fp)
            if d and len(d) >= _num_records(fp):
                continue
            actions.append({"add": _file_add_action(
                fp, p, _pvals_for(fp, parts, pnames, ptypes),
                d, ts_ms, data_change=data_change)})
        version += 1
        _write_commit(p, version, actions)
        _maybe_checkpoint(p, version)
        committed += 1
        prev_files, prev_dead = files, dead
        prev_schema_id = sj.get("schema-id", 0)
    # metadata-only evolution (drop_iceberg_column /
    # widen_iceberg_column commit no snapshot): catch the Delta
    # schemaString up with a metaData-only commit
    cur_ss = _schema_string(meta)
    if cur_ss != meta_d["schemaString"]:
        from pyspark.sql.types import StructType
        old_st = StructType.fromJson(
            json.loads(meta_d["schemaString"]))
        new_st = StructType.fromJson(json.loads(cur_ss))
        old_by = {f.name: f.dataType for f in old_st.fields}
        widen_now = any(f.name in old_by
                        and old_by[f.name] != f.dataType
                        for f in new_st.fields)
        actions = [{"commitInfo": {
            "timestamp": int(time.time() * 1000),
            "operation": "CHANGE SCHEMA"}}]
        if widen_now and not widened_already:
            rfeats = set((proto0 or {}).get("readerFeatures") or [])
            wfeats = set((proto0 or {}).get("writerFeatures") or [])
            rfeats.add("typeWidening")
            wfeats.add("typeWidening")
            proto0 = {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": sorted(rfeats),
                      "writerFeatures": sorted(wfeats)}
            actions.append({"protocol": proto0})
        meta_d = dict(meta_d, schemaString=cur_ss,
                      configuration=dict(conf))
        actions.append({"metaData": meta_d})
        version += 1
        _write_commit(p, version, actions)
        _maybe_checkpoint(p, version)
        committed += 1
    to_id = int(cur["snapshot-id"]) if cur is not None else bridged
    return {"snapshots": committed, "from_snapshot": bridged,
            "to_snapshot": to_id, "version": version}
