"""Delta Lake interop: export warehouse tables as Delta tables
(versioned commits, not just snapshots) and read ANY simple Delta
table back via transaction-log replay — no Delta library required.

The store's homegrown manifest replicates a useful slice of Delta
(append segments, deletion vectors, replace epochs, CDF, snapshot
isolation) but no external engine can read it.  This module is the
interop rung: standard Delta on the outside, the store's recipes on
the inside.

Format notes (Delta transaction protocol, delta-io/delta PROTOCOL.md —
public spec; no Delta library is required to WRITE commits or REPLAY
the log):

- data: plain parquet files in the destination directory, written by
  Spark and MOVED into place with version-scoped names (an incremental
  commit must never clobber a prior version's files);
- log: ``_delta_log/{version:020d}.json``, one JSON action per line —
  ``protocol`` (minReader 1 / minWriter 2: no advanced features, so
  every reader stays eligible), ``metaData`` (Spark ``schemaString``),
  ``add`` (with per-file stats reused from the same parquet-footer
  reads ``plans.skipping`` does) and ``remove`` actions;
- reader: replay = apply adds/removes in commit order; an optional
  ``_last_checkpoint`` names a parquet checkpoint holding the folded
  state (read via pyarrow).  Supported beyond the v1 baseline:
  'name'-mode COLUMN MAPPING (physical-name reads resolved from the
  schemaString metadata), ``timestampNtz``, DELETION VECTORS
  (``plans/delta_dv`` decodes the roaring position bitmaps; the scan
  anti-joins them on ``_metadata.row_index``) — both r12 — and, since
  r13, V2 CHECKPOINTS (UUID-named json/parquet manifests + sidecar
  file-action parquets under ``_delta_log/_sidecars/``, the modern
  Databricks writer default) and 'id'-mode COLUMN MAPPING (column
  resolution by parquet field id via Spark's native
  ``spark.sql.parquet.fieldId.read.enabled`` matching — physical
  names are never trusted).  Unknown reader features are REFUSED
  loudly: a naive replay would silently return wrong rows.

Export versioning (``mode="update"``): when the store recipe has
extended by PURE APPENDS since the last export (the ``_export_state``
sidecar records the exported recipe), the new commit carries ONLY the
new segments' rows as add actions — exporting a 1 GB append from a
100 TB table costs 1 GB.  With ``deletion_vectors=True`` (opt-in —
upgrades the export protocol to reader v3), delete/replace epochs
also commit incrementally as merge-on-read deletion vectors (inline
roaring descriptors, or ``.bin`` sidecars above 32 KB).  Any other
change falls back to a full-refresh commit: remove every live file
+ add a fresh snapshot — still one atomic log entry, every version
readable.  Every 10th update commit folds a classic checkpoint.
Commit claims are atomic put-if-absent (``os.link``), so concurrent
exporters cannot clobber each other's versions.  Readers get time
travel for free: ``read_delta(path, version=N)`` replays to N.

Read-back paths for exports: with delta-spark,
``spark.read.format("delta").load(dest)``; without, ``read_delta``
below (full fidelity incl. versions), or a plain parquet read — the
latter ONLY for a fresh v0 export (later versions leave removed files
on disk for time travel until a Delta VACUUM).
"""
from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid
from urllib.parse import quote, unquote
from tostore_spark.fs import local_path
from tostore_spark.localdf import local_df
from tostore_spark.plans.export_tail import (appended_frame,
                                             delete_positions, read_state,
                                             recipe_tail,
                                             refuse_declassify,
                                             write_state)

__all__ = ["export_delta", "read_delta", "read_delta_cdf",
           "vacuum_delta"]

_STATE_SIDECAR = "_export_state.json"
#: classic-checkpoint cadence (Delta's own default): every 10th commit
#: folds the log into ``N.checkpoint.parquet`` + ``_last_checkpoint``,
#: so replaying a many-version export costs O(live files + commits
#: since the last checkpoint), not O(all commits)
_CHECKPOINT_INTERVAL = 10


def _delta_stats(file_summary: dict) -> str:
    """plans.skipping per-file summary → Delta add-action stats JSON.

    Only columns with decodable bounds are emitted (same conservatism
    as the manifest: a reader treats missing stats as unknown).  Null
    counts are emitted only when exact.  Temporal bounds serialize as
    FULL-PRECISION ISO strings (dates ``YYYY-MM-DD``, naive-UTC
    timestamps with a ``Z`` suffix and undropped microseconds — a
    truncated max would understate the bound and prune live rows)."""
    import datetime

    def _iso(v):
        if isinstance(v, datetime.datetime):
            return v.isoformat() + "Z"
        if isinstance(v, datetime.date):
            return v.isoformat()
        return v

    cols = file_summary.get("cols") or {}
    mins, maxs, nulls = {}, {}, {}
    for name, c in cols.items():
        if c.get("min") is not None:
            mins[name] = _iso(c["min"])
            maxs[name] = _iso(c["max"])
        if c.get("nulls") is not None:
            nulls[name] = int(c["nulls"])
    out = {"numRecords": int(file_summary["rows"])}
    if mins:
        out["minValues"] = mins
        out["maxValues"] = maxs
    if nulls:
        out["nullCount"] = nulls
    return json.dumps(out)


def _loose_stats(stats: str | None) -> str | None:
    """Stats for an add action that carries a deletionVector: the
    numbers were computed over ALL physical rows (deleted included),
    so the spec requires ``tightBounds: false`` — otherwise an external
    reader's metadata-only MIN/MAX/skipping could surface values that
    exist only in deleted rows.  ``numRecords`` stays the physical
    count (what the spec's wide-bounds form means)."""
    if not stats:
        return stats
    try:
        d = json.loads(stats)
    except Exception:
        return stats
    d["tightBounds"] = False
    return json.dumps(d)


# ---------------------------------------------------------------------
# stats-based file pruning for read_delta(where=...)
# ---------------------------------------------------------------------
# Delta scan planning: every add action carries per-file stats
# (numRecords / minValues / maxValues / nullCount) and partitionValues;
# a predicate that no value in a file's bounds can satisfy drops the
# file from the scan BEFORE Spark ever lists it — the log-metadata
# analog of the store's own manifest skipping, and the mechanism that
# makes a selective read of a 100 TB foreign Delta table touch only
# the matching files.  Refutation is delegated to
# plans.skipping.node_may_match (conservative three-valued: anything
# undecidable keeps the file).
#
# Type discipline: bool/int/float/string columns compare raw.
# Date/timestamp stats are writer-formatted ISO strings — NEVER
# compared lexicographically (a format difference could prune live
# rows); instead they PARSE to date/datetime values and ride the same
# type-aligned compare the predicate side already uses
# (coerce_where_values yields dates and naive-UTC datetimes):
# dates via fromisoformat; TIMESTAMP (tz) stats must carry an
# explicit offset (normalized to naive UTC — a zone-less string on a
# tz column is ambiguous and refuses), TIMESTAMP_NTZ stats must NOT.
# Anything unparseable refuses that bound — the file survives.  Files
# whose stats carry ``tightBounds: false`` (deletion-vector adds)
# stay sound: the bounds cover a SUPERSET of the live rows, so
# refutation over them refutes the live rows a fortiori.

def _temporal_stat(v: str, dt):
    """Parse one ISO date/timestamp stat string into the comparable
    value the predicate side uses — None when ambiguous."""
    import datetime

    from pyspark.sql import types as T
    try:
        if isinstance(dt, T.DateType):
            return datetime.date.fromisoformat(v)
        ts = datetime.datetime.fromisoformat(v.replace("Z", "+00:00"))
        if isinstance(dt, T.TimestampType):
            if ts.tzinfo is None:
                return None     # zone-less on a tz column: ambiguous
            return ts.astimezone(datetime.timezone.utc) \
                .replace(tzinfo=None)
        if ts.tzinfo is not None:
            return None         # an offset on an NTZ column: ambiguous
        return ts
    except ValueError:
        return None


def _stat_scalar(v, dt):
    """One minValues/maxValues JSON scalar, type-aligned to the Delta
    schema field — None when unusable (prune conservatively)."""
    from pyspark.sql import types as T
    if isinstance(dt, T.BooleanType):
        return v if isinstance(v, bool) else None
    if isinstance(v, bool):
        return None
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                       T.LongType, T.FloatType, T.DoubleType)):
        if isinstance(v, (int, float)):
            return None if isinstance(v, float) and (
                math.isnan(v) or math.isinf(v)) else v
        return None
    if isinstance(dt, T.StringType):
        return v if isinstance(v, str) else None
    if isinstance(dt, (T.DateType, T.TimestampType,
                       T.TimestampNTZType)):
        return _temporal_stat(v, dt) if isinstance(v, str) else None
    return None


def _pv_scalar(s: str, dt):
    """A (non-null) partitionValues string → typed scalar, or None
    when the type does not participate in pruning."""
    from pyspark.sql import types as T
    try:
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            return int(s)
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            f = float(s)
            return None if math.isnan(f) or math.isinf(f) else f
        if isinstance(dt, T.BooleanType):
            return {"true": True, "false": False}.get(s.lower())
        if isinstance(dt, T.StringType):
            return s
        if isinstance(dt, T.DateType):
            # spec partition serialization: {year}-{month}-{day} —
            # unambiguous (timestamp partition values are zone-less
            # and stay out)
            import datetime
            return datetime.date.fromisoformat(s)
    except (ValueError, TypeError):
        return None
    return None


def _add_summary(add: dict, schema, top_map: dict, pcols: list):
    """One add action → the plans.skipping per-segment summary shape
    ``{"rows": n|None, "cols": {logical: {"min","max","nulls"}}}``.
    Stats and partitionValues are keyed by PHYSICAL column names under
    column mapping (the spec's rule) — ``top_map`` translates.
    Returns None when nothing is usable (file always survives)."""
    rows = None
    mins, maxs, nulls = {}, {}, {}
    st = add.get("stats")
    if st:
        try:
            d = json.loads(st)
            if isinstance(d.get("numRecords"), int):
                rows = d["numRecords"]
            mins = d.get("minValues") or {}
            maxs = d.get("maxValues") or {}
            nulls = d.get("nullCount") or {}
        except Exception:
            pass
    pv = add.get("partitionValues") or {}
    cols = {}
    for f in schema.fields:
        phys = top_map.get(f.name, f.name)
        if f.name in pcols:
            if phys not in pv:
                continue
            v = pv[phys]
            if v is None:
                # a null-partition file: every row's value is null
                if rows is not None:
                    cols[f.name] = {"min": None, "max": None,
                                    "nulls": rows}
                continue
            tv = _pv_scalar(v, f.dataType)
            if tv is not None:
                cols[f.name] = {"min": tv, "max": tv, "nulls": 0}
            continue
        mn, mx = mins.get(phys), maxs.get(phys)
        nl = nulls.get(phys)
        nl = int(nl) if isinstance(nl, int) and not isinstance(nl, bool) \
            else None
        if mn is None and mx is None:
            # exactly representable only as the all-null column
            if nl is not None and rows is not None and nl >= rows:
                cols[f.name] = {"min": None, "max": None, "nulls": nl}
            continue
        mn = _stat_scalar(mn, f.dataType)
        mx = _stat_scalar(mx, f.dataType)
        if mn is None or mx is None:
            continue
        cols[f.name] = {"min": mn, "max": mx, "nulls": nl}
    if not cols:
        return None
    return {"rows": rows, "cols": cols}


def _coerce_where_values(node, schema):
    """Shared loose-typing normalization (compile.coerce_where_values;
    kept under the module-local name the read path and tests use)."""
    from tostore_spark.compile import coerce_where_values
    return coerce_where_values(node, schema)


def _prune_adds(files: dict, node, schema, top_map: dict,
                pcols: list) -> dict:
    """Keep only the adds whose stats/partitionValues admit the
    predicate.  A file with no usable summary always survives."""
    from tostore_spark.plans.skipping import node_may_match
    out = {}
    for rel, add in files.items():
        summ = _add_summary(add, schema, top_map, pcols)
        if summ is not None and not node_may_match(node, summ, ""):
            continue
        out[rel] = add
    return out


#: per-file key-bloom sidecar for the DV/position-delete export probes
#: (round-17 verdict order #1): bounds (min/max) refutation is
#: structurally wrong for SCATTERED point keys — 100 uniform-random
#: deleted keys span every file's range, so `key_bounds_where` refutes
#: nothing and the probe scans the whole base.  The sidecar carries one
#: bloom bitmap per (live file, key column) so the probe drops every
#: file the bitmaps prove keyless: a 100-key delete then probes at most
#: the files that actually hold those keys (+ a bounded false-positive
#: tail), at ANY base size.  Built LAZILY at the first probe that needs
#: them (one column-pruned scan of the uncovered files — the same cost
#: class as the probe it replaces, paid once per file lifetime) and
#: merged incrementally; refutation is sound because a bloom answers
#: "provably absent" only.
_BLOOM_SIDECAR = "_export_blooms.json"
#: driver-side cap on distinct delete keys tested against the bitmaps —
#: beyond it the probe falls back to bounds-only (a delete touching
#: >4096 distinct keys is no longer "scattered point keys")
_BLOOM_MAX_KEYS = 4096
#: bitmap sizing: ~20 bits/row with k ≈ 0.693·m/n hashes ≈ 1e-4 false
#: positives per (key, file) test — at 100 keys/file that keeps the
#: expected false-surviving file count ~1% of candidates
_BLOOM_BITS_PER_ROW = 20
#: per-(file, col) bitmap cap (2^23 bits = 1 MiB raw): files above
#: ~420k rows get a degraded (higher-FP, still sound) bitmap rather
#: than an unbounded sidecar
_BLOOM_MAX_M = 1 << 23
#: sidecar entry cap — past this the export stops building new bitmaps
#: (probe degrades to bounds-only for uncovered files).  At 100 TB the
#: sidecar would be sharded per data directory instead; one JSON blob
#: is the single-warehouse trade this exporter makes everywhere else.
_BLOOM_MAX_FILES = 65536

#: test hook: the last probe's refutation accounting
#: {"candidates", "kept", "built", "keys"} — updated per del-op probe
_PROBE_STATS: dict = {}


def _load_export_blooms(path: str) -> dict:
    p = os.path.join(path, _BLOOM_SIDECAR)
    try:
        with open(p) as fh:
            d = json.load(fh)
        if isinstance(d.get("files"), dict):
            return d
    except (OSError, ValueError):
        pass
    return {"files": {}}


def _save_export_blooms(path: str, blooms: dict, live_rels) -> None:
    """Atomic sidecar write, pruned to the currently-live rel paths
    (version-scoped staging names are never reused, so a stale entry
    can only waste bytes, never mismatch — pruning here keeps the
    sidecar ∝ live files)."""
    live = set(live_rels)
    blooms = {"files": {r: e for r, e in blooms.get("files", {}).items()
                        if r in live}}
    tmp = os.path.join(path, _BLOOM_SIDECAR + f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(blooms, fh)
    os.replace(tmp, os.path.join(path, _BLOOM_SIDECAR))


def _build_file_blooms(df_with_path, kcols: list, m: int, k: int) -> dict:
    """ONE JVM-side job building per-(file, col) bloom bitmaps over a
    column-pruned read of the target files: k md5 double-hash positions
    per (row, col) — ``plans.skipping.bloom_position_exprs``, the exact
    Spark twin of the driver probe's ``bloom_positions_md5km`` — packed
    into 64-bit words EXECUTOR-side (``groupBy(file, col, word)
    .agg(bit_or)``), so the collect is bounded by ``files · cols ·
    m/64`` words, never by the row count.  Returns {file basename:
    {col: bitmap bytes}}."""
    from pyspark.sql import functions as F

    from tostore_spark.plans.skipping import bloom_position_exprs
    entries = []
    for c in kcols:
        entries.extend(bloom_position_exprs(c, m, k))
    rows = (df_with_path
            .select(F.element_at(F.split(F.col("__path"), "/"), -1)
                    .alias("f"),
                    F.explode(F.array(*entries)).alias("e"))
            .select("f", F.col("e.c").alias("c"), F.col("e.p").alias("p"))
            .where(F.col("p").isNotNull())
            .selectExpr("f", "c", "p div 64 as w",
                        "shiftleft(1L, cast(p % 64 as int)) as b")
            .groupBy("f", "c", "w").agg(F.bit_or("b").alias("bits"))
            .collect())
    out: dict = {}
    nbytes = (m + 7) >> 3
    for r in rows:
        bm = (out.setdefault(r["f"], {})
              .setdefault(r["c"], bytearray(nbytes)))
        w = int(r["w"])
        word = int(r["bits"]) & 0xFFFFFFFFFFFFFFFF
        # bit j of word w = position 64w+j = byte (64w+j)>>3, bit j&7 —
        # exactly little-endian byte order (bloom_may_contain's layout)
        bm[w * 8:w * 8 + 8] = word.to_bytes(8, "little")
    return out


def _bloom_prune_probe(path: str, probe_rels: list, keys, kcols: list,
                       reader_factory, nrows_of, live_rels=None,
                       blooms: dict | None = None) -> list:
    """Drop probe files whose key blooms prove NONE of the delete keys
    present.  ``reader_factory(rels)`` must return a frame of the key
    columns plus ``__path`` (= ``_metadata.file_path``) over exactly
    those files; ``nrows_of(rel)`` the file's row count (None → no
    bloom for that file, always probed).  Uncovered files are built
    and persisted before testing, so even the FIRST scattered delete
    probes only the files that hold its keys.  Conservative
    throughout: un-keyable values (floats, temporals, nulls), missing
    bitmaps, and over-cap key sets all KEEP the file."""
    import base64

    from tostore_spark.plans.skipping import (BLOOM_H_MD5KM,
                                              bloom_may_contain)
    _PROBE_STATS.clear()
    _PROBE_STATS.update({"candidates": len(probe_rels), "built": 0,
                         "kept": len(probe_rels), "keys": None})
    key_rows = (keys.select(*kcols).distinct()
                .limit(_BLOOM_MAX_KEYS + 1).collect())
    if len(key_rows) > _BLOOM_MAX_KEYS:
        return probe_rels
    _PROBE_STATS["keys"] = len(key_rows)
    store = blooms if blooms is not None else _load_export_blooms(path)
    files = store.setdefault("files", {})
    uncovered = [r for r in probe_rels
                 if not any(c in (files.get(r) or {}).get("cols", {})
                            for c in kcols)]
    by_base = {r.split("/")[-1]: r for r in uncovered}
    if (uncovered and len(by_base) == len(uncovered)
            and len(files) + len(uncovered) <= _BLOOM_MAX_FILES):
        sizes = {r: nrows_of(r) for r in uncovered}
        buildable = [r for r in uncovered if sizes.get(r)]
        if buildable:
            n_max = max(sizes[r] for r in buildable)
            m = 1 << max(10, math.ceil(
                math.log2(n_max * _BLOOM_BITS_PER_ROW)))
            m = min(m, _BLOOM_MAX_M)
            k = max(2, min(14, round(0.693 * m / n_max)))
            try:
                built = _build_file_blooms(reader_factory(buildable),
                                           kcols, m, k)
            except Exception:
                built = {}
            for base, colmaps in built.items():
                rel = by_base.get(base)
                if rel is None:
                    continue
                ent = files.setdefault(
                    rel, {"m": m, "k": k, "h": BLOOM_H_MD5KM, "cols": {}})
                if (ent.get("m") != m or ent.get("k") != k
                        or ent.get("h") != BLOOM_H_MD5KM):
                    ent = files[rel] = {"m": m, "k": k,
                                        "h": BLOOM_H_MD5KM, "cols": {}}
                for c, bm in colmaps.items():
                    ent["cols"][c] = base64.b64encode(
                        bytes(bm)).decode("ascii")
                _PROBE_STATS["built"] += 1
            if built:
                _save_export_blooms(
                    path, store,
                    live_rels if live_rels is not None else probe_rels)
    kept = []
    for r in probe_rels:
        ent = files.get(r)
        avail = [c for c in kcols if c in (ent or {}).get("cols", {})]
        if not ent or not avail:
            kept.append(r)
            continue
        bl = {"m": ent["m"], "k": ent["k"], "h": ent.get("h"),
              "cols": {c: base64.b64decode(ent["cols"][c])
                       for c in avail}}
        if any(all(bloom_may_contain(bl, c, kr[c]) for c in avail)
               for kr in key_rows):
            kept.append(r)
    _PROBE_STATS["kept"] = len(kept)
    return kept


def _cluster_frame(df, cluster_by, target_files):
    """Range-cluster a staging frame so per-file min/max stats become
    DISJOINT — the writer-side knob that makes stats-based file
    skipping (this module's ``read_delta(where=)``, Delta engines'
    own data skipping) actually bite.  One range shuffle + in-file
    sort; returns (df, remaining_target_files)."""
    cols = [c for c in (cluster_by or []) if c in df.columns]
    if not cols:
        return df, target_files
    if target_files:
        df = df.repartitionByRange(int(target_files), *cols)
    else:
        df = df.repartitionByRange(*cols)
    return df.sortWithinPartitions(*cols), None


def _stage_data_files(df, path: str, version: int,
                      target_files: int | None,
                      partition_by: list[str] | None = None,
                      subdir: str | None = None,
                      cluster_by: list[str] | None = None):
    """Write ``df`` as parquet and move the part files into the export
    root under version-scoped names.  Returns ``[(rel, pvalues)]``.
    Spark part names already carry a write-unique uuid; the ``vN-``
    prefix additionally makes the owning commit self-evident on disk.

    With ``partition_by``, the staging write is hive-partitioned:
    Spark excludes the partition columns from the data files (exactly
    Delta's layout), the ``p=v`` directory structure is preserved
    under the export root, and the decoded values return as each
    file's ``partitionValues``.

    Basenames are made GLOBALLY unique with a per-file sequence: one
    Spark task writing several hive partitions reuses its part number
    in each ``p=v`` dir, and deletion-vector positions are keyed by
    file basename — a collision would force the DV commit (and the
    DV read fold) to refuse.

    ``subdir`` roots the moved files under ``path/subdir/`` (change
    data feed files live under ``_change_data/`` by Delta
    convention)."""
    staging = os.path.join(path, f".staging-{uuid.uuid4().hex}")
    # int64-micros timestamps (never legacy INT96): footer stats exist
    # and modern Delta readers expect them — pin even on foreign
    # sessions (get_spark already defaults this), but RESTORE after
    # staging so a caller-owned session keeps its own setting
    conf = df.sparkSession.conf
    _TS_KEY = "spark.sql.parquet.outputTimestampType"
    old_ts = conf.get(_TS_KEY, None)
    conf.set(_TS_KEY, "TIMESTAMP_MICROS")
    try:
        if cluster_by and not partition_by:
            df, target_files = _cluster_frame(df, cluster_by,
                                              target_files)
        if target_files:
            df = df.coalesce(int(target_files))
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
    finally:
        conf.set(_TS_KEY, old_ts) if old_ts is not None \
            else conf.unset(_TS_KEY)
    out = []
    for dirpath, dirs, names in os.walk(staging):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        relroot = os.path.relpath(dirpath, staging)
        pvals = {}
        if relroot != ".":
            for seg in relroot.split(os.sep):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    # Spark hive-escapes special chars; the log carries
                    # the RAW value (__HIVE_DEFAULT_PARTITION__ = null)
                    v = unquote(v)
                    pvals[k] = (None if v == "__HIVE_DEFAULT_PARTITION__"
                                else v)
        for f in sorted(names):
            if not f.endswith(".parquet"):
                continue
            seq = len(out)
            base = f"v{version:05d}-f{seq:04d}-{f}"
            rel = (base if relroot == "." else
                   os.path.join(relroot, base))
            if subdir:
                rel = os.path.join(subdir, rel)
            os.makedirs(os.path.dirname(os.path.join(path, rel)) or path,
                        exist_ok=True)
            os.replace(os.path.join(dirpath, f),
                       os.path.join(path, rel))
            out.append((rel, pvals))
    shutil.rmtree(staging, ignore_errors=True)
    return out


def _add_actions(path: str, staged) -> tuple[list[dict], int]:
    from tostore_spark.plans.skipping import _fold_file

    def _file_summary(fpath: str) -> dict:
        import pyarrow.parquet as pq
        md = pq.ParquetFile(fpath).metadata
        try:
            return _fold_file(md, temporal=True)
        except Exception:
            # stats are optional; the row COUNT is not (numRecords)
            return {"rows": int(md.num_rows), "cols": {}}

    actions, total = [], 0
    for rel, pvals in staged:
        fpath = os.path.join(path, rel)
        summ = _file_summary(fpath)
        total += int(summ["rows"])
        actions.append({"add": {
            "path": quote(rel, safe="/="),
            "partitionValues": {k: v for k, v in (pvals or {}).items()},
            "size": os.path.getsize(fpath),
            "modificationTime": int(os.path.getmtime(fpath) * 1000),
            "dataChange": True,
            "stats": _delta_stats(summ),
        }})
    return actions, total


def _stage_cdc(df, path: str, version: int,
               partition_by: list[str] | None = None) -> list[dict]:
    """Stage change rows (data columns + ``_change_type``) under
    ``_change_data/`` and return their ``cdc`` actions (PROTOCOL.md
    "Add CDC File": ``dataChange=false`` — readers of the DATA must
    ignore these files; only CDF readers consume them)."""
    staged = _stage_data_files(df, path, version, None,
                               partition_by=partition_by,
                               subdir="_change_data")
    actions = []
    for rel, pvals in staged:
        fpath = os.path.join(path, rel)
        actions.append({"cdc": {
            "path": quote(rel, safe="/="),
            "partitionValues": {k: v for k, v in (pvals or {}).items()},
            "size": os.path.getsize(fpath),
            "dataChange": False,
        }})
    return actions


def _write_commit(path: str, version: int, actions: list[dict]) -> None:
    """Atomic put-if-absent of commit N — the Delta protocol's one
    concurrency primitive.  The fully-written tmp file is LINKED into
    place (``os.link`` fails with EEXIST if any other writer claimed
    the version first — no check-then-rename TOCTOU window, and a
    crash mid-write leaves only the tmp, never a truncated commit)."""
    log_dir = os.path.join(path, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    log_path = os.path.join(log_dir, f"{version:020d}.json")
    tmp = log_path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    try:
        os.link(tmp, log_path)
    except FileExistsError:
        raise ValueError(
            f"delta commit v{version} already exists at {log_path} — "
            "a concurrent writer won this version; re-read the log "
            "and retry at the next version") from None
    except OSError:
        # filesystem without hard links (some network/FUSE/object-store
        # mounts): fall back to exists-check + atomic replace — a
        # narrower race window than none, and the only portable option
        if os.path.exists(log_path):
            raise ValueError(
                f"delta commit v{version} already exists at {log_path}"
                " — a concurrent writer won this version; re-read the "
                "log and retry at the next version") from None
        os.replace(tmp, log_path)
        return
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def _checkpoint_arrow_schema():
    """Explicit arrow schema for classic checkpoints (PROTOCOL.md
    "Checkpoint Schema").  The spec REQUIRES ``map<string,string>`` for
    add.partitionValues / metaData.configuration / format.options —
    an inferred struct (what ``from_pylist`` would produce) or an
    absent required field breaks delta-spark at the first checkpoint,
    so they are always emitted, empty map included."""
    import pyarrow as pa
    s = pa.string()
    smap = pa.map_(s, s)
    dv = pa.struct([("storageType", s), ("pathOrInlineDv", s),
                    ("offset", pa.int32()), ("sizeInBytes", pa.int32()),
                    ("cardinality", pa.int64())])
    protocol = pa.struct([
        ("minReaderVersion", pa.int32()),
        ("minWriterVersion", pa.int32()),
        ("readerFeatures", pa.list_(s)),
        ("writerFeatures", pa.list_(s))])
    meta = pa.struct([
        ("id", s), ("name", s), ("description", s),
        ("format", pa.struct([("provider", s), ("options", smap)])),
        ("schemaString", s),
        ("partitionColumns", pa.list_(s)),
        ("configuration", smap),
        ("createdTime", pa.int64())])
    add = pa.struct([
        ("path", s),
        ("partitionValues", smap),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats", s),
        ("tags", smap),
        ("deletionVector", dv)])
    remove = pa.struct([
        ("path", s),
        ("deletionTimestamp", pa.int64()),
        ("dataChange", pa.bool_())])
    return pa.schema([("protocol", protocol), ("metaData", meta),
                      ("add", add), ("remove", remove)])


def _write_checkpoint(path: str, version: int) -> None:
    """Write a classic single-file checkpoint for commit ``version``:
    ``_delta_log/{N:020d}.checkpoint.parquet`` holding the FOLDED state
    (protocol + metaData + one row per live add; removed files simply
    do not appear) plus the ``_last_checkpoint`` pointer.  Spec shape
    (PROTOCOL.md "Checkpoints"): one row per action, the non-applicable
    action columns null, map-typed fields always present (spec schema —
    ``_checkpoint_arrow_schema``).  ``_replay`` (and any classic-
    checkpoint Delta reader) starts here and applies only later JSON
    commits."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    state = _replay(path, version)
    proto = dict(state.get("protocol") or {"minReaderVersion": 1,
                                           "minWriterVersion": 2})
    meta = dict(state["meta"])
    fmt = dict(meta.get("format") or {"provider": "parquet"})
    fmt["options"] = dict(fmt.get("options") or {})
    meta["format"] = fmt
    meta["configuration"] = dict(meta.get("configuration") or {})
    meta["partitionColumns"] = list(meta.get("partitionColumns") or [])
    rows = [
        # the FOLDED protocol — a checkpoint of a deletion-vector
        # table must carry the upgraded version, or a reader starting
        # here would miss the feature gate and return un-deleted rows
        {"protocol": proto, "metaData": None, "add": None,
         "remove": None},
        {"protocol": None, "metaData": meta, "add": None,
         "remove": None},
    ]
    for rel in sorted(state["files"]):
        add = dict(state["files"][rel])
        add["path"] = quote(rel, safe="/=")
        # required map field: empty map for unpartitioned, never absent
        add["partitionValues"] = dict(add.get("partitionValues") or {})
        add.setdefault("stats", None)
        rows.append({"protocol": None, "metaData": None,
                     "add": add, "remove": None})
    log_dir = os.path.join(path, "_delta_log")
    ck = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    tmp = ck + f".tmp-{uuid.uuid4().hex}"
    pq.write_table(
        pa.Table.from_pylist(rows, schema=_checkpoint_arrow_schema()),
        tmp)
    os.replace(tmp, ck)
    lc = os.path.join(log_dir, "_last_checkpoint")
    tmp = lc + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    os.replace(tmp, lc)


def _write_checkpoint_v2(path: str, version: int) -> None:
    """Write a V2 (UUID-named) checkpoint for commit ``version`` —
    the modern Databricks-writer layout this module has READ since
    r13 (PROTOCOL.md "V2 Checkpoints"): a JSON manifest
    ``N.checkpoint.<uuid>.json`` holding ``checkpointMetadata`` +
    the folded protocol/metaData + one ``sidecar`` reference, and a
    sidecar parquet under ``_delta_log/_sidecars/`` carrying the
    add actions.  Requires the ``v2Checkpoint`` reader feature on
    the table protocol (the exporter upgrades it when
    ``checkpoint_format="v2"`` is chosen — that is why the format
    is opt-in: minReaderVersion 3 locks out pre-feature readers)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    state = _replay(path, version)
    log_dir = os.path.join(path, "_delta_log")
    scdir = os.path.join(log_dir, "_sidecars")
    os.makedirs(scdir, exist_ok=True)
    full_schema = _checkpoint_arrow_schema()
    sc_schema = pa.schema([full_schema.field("add"),
                           full_schema.field("remove")])
    rows = []
    for rel in sorted(state["files"]):
        add = dict(state["files"][rel])
        add["path"] = quote(rel, safe="/=")
        add["partitionValues"] = dict(add.get("partitionValues") or {})
        add.setdefault("stats", None)
        rows.append({"add": add, "remove": None})
    sc_name = f"{uuid.uuid4().hex}.parquet"
    sc_path = os.path.join(scdir, sc_name)
    tmp = sc_path + f".tmp-{uuid.uuid4().hex}"
    pq.write_table(pa.Table.from_pylist(rows, schema=sc_schema), tmp)
    os.replace(tmp, sc_path)
    proto = dict(state.get("protocol") or {"minReaderVersion": 1,
                                           "minWriterVersion": 2})
    meta = dict(state["meta"])
    actions = [
        {"checkpointMetadata": {"version": int(version)}},
        {"protocol": proto},
        {"metaData": meta},
        {"sidecar": {"path": sc_name,
                     "sizeInBytes": os.path.getsize(sc_path),
                     "modificationTime": int(
                         os.path.getmtime(sc_path) * 1000)}},
    ]
    mf = os.path.join(
        log_dir, f"{version:020d}.checkpoint.{uuid.uuid4().hex}.json")
    tmp = mf + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    os.replace(tmp, mf)
    lc = os.path.join(log_dir, "_last_checkpoint")
    tmp = lc + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump({"version": version, "size": len(rows) + 3}, fh)
    os.replace(tmp, lc)


def _v2_checkpoint_protocol(proto: dict | None,
                            change_data: bool = False) -> dict:
    """The protocol a v2-checkpointed export needs: minReader 3 /
    minWriter 7 with ``v2Checkpoint`` listed, existing feature
    implications (deletionVectors, changeDataFeed) carried into the
    explicit feature lists."""
    proto = dict(proto or {"minReaderVersion": 1,
                           "minWriterVersion": 2})
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    if int(proto.get("minReaderVersion", 1)) >= 3 and not rf:
        rf = set()
    if int(proto.get("minWriterVersion", 2)) >= 4 or change_data:
        wf.add("changeDataFeed")
    rf.add("v2Checkpoint")
    wf.add("v2Checkpoint")
    if "deletionVectors" in rf:
        wf.add("deletionVectors")
    return {"minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": sorted(rf),
            "writerFeatures": sorted(wf)}


def _maybe_checkpoint(path: str, version: int,
                      fmt: str | None = None) -> None:
    if version > 0 and version % _CHECKPOINT_INTERVAL == 0:
        if fmt is None:
            fmt = (read_state(path, _STATE_SIDECAR) or {}).get("ckfmt")
        if fmt == "v2":
            _write_checkpoint_v2(path, version)
        else:
            _write_checkpoint(path, version)


def export_delta(engine, table: str, dest: str,
                 mode: str = "error",
                 target_files: int | None = None,
                 allow_decrypted: bool = False,
                 deletion_vectors: bool = False,
                 change_data: bool = False,
                 cluster_by: list | None = None,
                 checkpoint_format: str | None = None) -> dict:
    """Export ``table`` to a Delta table at ``dest``.

    ``mode``: ``"error"`` (default — refuse a non-empty dest),
    ``"overwrite"`` (wipe and write commit v0), ``"update"`` (append
    the NEXT commit to an existing export: add-only when the store
    recipe extended by pure appends since the last export, a
    remove+add full refresh otherwise; on a fresh dest, same as v0).
    Store deletion vectors / replace epochs are resolved by
    construction — the exported data derives from ``engine.df(table)``.

    ``deletion_vectors=True`` (opt-in): an update whose tail is
    segs+dels commits Delta MERGE-ON-READ deletion vectors instead of
    a full refresh — deleted rows become inline roaring position
    bitmaps on the existing add actions (exporting a 100-row delete
    from a 100 TB table costs the key set, not a rewrite).  Opt-in
    because the commit upgrades the table protocol to
    minReaderVersion 3 (deletionVectors feature), which older external
    readers refuse.

    ``change_data=True`` (opt-in): the export maintains a Delta CHANGE
    DATA FEED (PROTOCOL.md "Add CDC File") — the table property
    ``delta.enableChangeDataFeed`` is set, dv/refresh commits carry
    explicit ``cdc`` actions whose ``_change_data/`` parquet files
    hold the exact per-commit change rows (``_change_type`` ∈
    {insert, delete} — the COW store has no stable row identity, so
    in-place updates surface as delete+insert, the store's own
    ``table_diff`` contract), and add-only append commits stay
    implicit (the spec derives inserts from their add actions).
    Foreign CDF readers — and ``read_delta_cdf`` — then consume the
    store's changes incrementally without diffing snapshots.

    ``checkpoint_format="v2"`` (opt-in, r17): periodic checkpoints
    write the V2 (UUID-named manifest + ``_sidecars/`` parquet)
    layout instead of classic single-file — the modern Databricks
    writer default this module has READ since r13.  Upgrades the
    protocol to minReaderVersion 3 with the ``v2Checkpoint`` feature
    (why it is opt-in: pre-feature readers refuse the table).  The
    choice persists in the export state; passing it on an UPDATE of a
    classic export upgrades in that commit.

    Returns ``{"files", "rows", "path", "version",
    "commit"}`` where commit ∈ {snapshot, append, dv, refresh}."""
    if mode not in ("error", "overwrite", "update"):
        raise ValueError(f"unknown export_delta mode {mode!r}")
    if checkpoint_format not in (None, "classic", "v2"):
        raise ValueError(
            f"checkpoint_format must be 'classic'|'v2', "
            f"got {checkpoint_format!r}")
    refuse_declassify(engine, table, "export_delta", allow_decrypted)
    path = local_path(dest)
    log_dir = os.path.join(path, "_delta_log")
    has_log = os.path.isdir(log_dir) and any(
        f.endswith(".json") for f in os.listdir(log_dir))
    if os.path.exists(path) and os.listdir(path):
        if mode == "error":
            raise ValueError(
                f"export_delta destination {dest} exists; pass "
                "mode='overwrite' to replace it or mode='update' to "
                "commit the next version")
        if mode == "overwrite":
            shutil.rmtree(path)
            has_log = False
    # the checkpoint format is a TABLE-level choice: the state sidecar
    # remembers it; an explicit "v2" on a classic export upgrades the
    # protocol in the update commit
    state = read_state(path, _STATE_SIDECAR)
    ckfmt = checkpoint_format or (state or {}).get("ckfmt")
    if mode == "update" and has_log:
        rep = _export_update(engine, table, path, state, ckfmt,
                             deletion_vectors=deletion_vectors,
                             change_data=change_data,
                             cluster_by=cluster_by)
    else:
        # ---- commit v0: full snapshot -------------------------------
        df = engine.df(table)
        pby = list(engine._tables[engine._resolve(table)]
                   .get("partition_by") or [])
        os.makedirs(path, exist_ok=True)
        staged = _stage_data_files(df, path, 0, target_files,
                                   partition_by=pby,
                                   cluster_by=cluster_by)
        adds, total = _add_actions(path, staged)
        conf = {}
        # CDF needs writer v4 (or the changeDataFeed writer feature);
        # the v0 snapshot itself carries no cdc file — its adds ARE
        # the initial inserts per spec
        proto = ({"minReaderVersion": 1, "minWriterVersion": 4}
                 if change_data else
                 {"minReaderVersion": 1, "minWriterVersion": 2})
        if checkpoint_format == "v2":
            proto = _v2_checkpoint_protocol(proto,
                                            change_data=change_data)
        if change_data:
            conf["delta.enableChangeDataFeed"] = "true"
        actions = [
            {"protocol": proto},
            {"metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": df.schema.json(),
                "partitionColumns": pby,
                "configuration": conf,
                "createdTime": int(time.time() * 1000),
            }},
        ] + adds
        _write_commit(path, 0, actions)
        rep = {"files": len(staged), "rows": total, "path": dest,
               "version": 0, "commit": "snapshot"}
    if rep["commit"] != "noop":
        write_state(engine, table, path, _STATE_SIDECAR, ckfmt=ckfmt,
                    delta_version=rep["version"])
    return rep


def _export_update(engine, table: str, path: str, state: dict | None,
                   ckfmt: str | None, deletion_vectors: bool = False,
                   change_data: bool = False,
                   cluster_by: list | None = None) -> dict:
    from tostore_spark.ttl import ttl_active
    key = engine._resolve(table)
    ent = engine._tables[key]
    live = _replay(path)
    next_v = live["version"] + 1
    if ckfmt == "v2" and "v2Checkpoint" not in set(
            (live.get("protocol") or {}).get("readerFeatures") or []):
        ck_upgrade = [{"protocol": _v2_checkpoint_protocol(
            live.get("protocol"), change_data=change_data)}]
    else:
        ck_upgrade = []
    # CDF is a TABLE property: once enabled, every subsequent commit
    # must maintain the feed whether or not this call re-passes the
    # flag (the Delta writer contract); change_data=True on a table
    # without the property upgrades it in this commit
    live_conf = dict((live["meta"] or {}).get("configuration") or {})
    cdf = bool(change_data) or \
        live_conf.get("delta.enableChangeDataFeed") == "true"
    cdf_upgrade = []
    if cdf and live_conf.get("delta.enableChangeDataFeed") != "true":
        meta2 = dict(live["meta"])
        meta2["configuration"] = {**live_conf,
                                  "delta.enableChangeDataFeed": "true"}
        proto = dict(live.get("protocol") or
                     {"minReaderVersion": 1, "minWriterVersion": 2})
        if "writerFeatures" in proto:
            proto["writerFeatures"] = sorted(
                set(proto["writerFeatures"]) | {"changeDataFeed"})
        elif int(proto.get("minWriterVersion", 2)) < 4:
            proto["minWriterVersion"] = 4
        cdf_upgrade = [{"protocol": proto}, {"metaData": meta2}]
    if ck_upgrade:
        # one protocol action per commit: the v2-checkpoint protocol
        # already folds the CDF writer feature in
        cdf_upgrade = ck_upgrade + [a for a in cdf_upgrade
                                    if "protocol" not in a]
    new_ops = recipe_tail(engine, key, state)
    extends = new_ops is not None
    new_ops = new_ops or []
    if extends and all(k == "seg" for k, _p in new_ops):
        if not new_ops:
            return {"files": 0, "rows": 0, "path": path,
                    "version": live["version"], "commit": "noop"}
        # pure-append extension: export ONLY the new segments' rows
        staged = _stage_data_files(
            appended_frame(engine, ent, [p for _k, p in new_ops]),
            path, next_v, None,
            partition_by=list(ent.get("partition_by") or []))
        adds, total = _add_actions(path, staged)
        # CDF: an add-only commit needs NO cdc file — the spec derives
        # its inserts from the dataChange add actions themselves
        _write_commit(path, next_v, cdf_upgrade + adds)
        _maybe_checkpoint(path, next_v, fmt=ckfmt)
        return {"files": len(staged), "rows": total, "path": path,
                "version": next_v, "commit": "append"}
    # (since r13 the store's flush gives PARTITIONED tables seg/del
    # tails too; the DV path below handles hive layout throughout —
    # basePath probes, partition-aware staging, basename-keyed
    # positions — so partitioned extends commit as DVs like any other)
    if (deletion_vectors and extends and new_ops
            and not ttl_active(ent["schema"].ttl)
            and all(k in ("seg", "del") for k, _p in new_ops)):
        res = _export_update_dv(engine, ent, path, live, new_ops,
                                next_v, cdf=cdf,
                                cdf_upgrade=cdf_upgrade, ckfmt=ckfmt)
        if res is not None:
            return res
        # fallthrough: anything the DV path could not prove falls to
        # the always-correct full refresh
    # full refresh: one commit removing every live file + fresh adds
    df = engine.df(table)
    pby = list(ent.get("partition_by") or [])
    # SCHEMA EVOLUTION rides the refresh tier (a store migration
    # rewrites the frame, which already poisons the fast paths): the
    # commit re-emits metaData with the new schemaString, so readers
    # see added/renamed/retyped columns — without this the export's
    # declared schema would stay frozen at v0 and new columns would be
    # invisible forever.  All files are restaged in the same commit,
    # so the schema and the data change atomically.
    if df.schema.json() != live["meta"]["schemaString"]:
        meta2 = dict(live["meta"])
        meta2["schemaString"] = df.schema.json()
        if cdf:
            meta2["configuration"] = {
                **(meta2.get("configuration") or {}),
                "delta.enableChangeDataFeed": "true"}
        # one metaData action per commit: fold any pending cdf
        # property upgrade into this one
        cdf_upgrade = [a for a in cdf_upgrade if "metaData" not in a]
        cdf_upgrade.append({"metaData": meta2})
    cdc_actions = []
    if cdf:
        # a refresh's add/remove actions overstate the change (rows
        # that persisted appear in both) — the spec's answer is an
        # explicit cdc file with the EXACT diff.  The refresh is
        # already O(table), so the two exceptAll passes stay in its
        # cost class.  Across a schema change the old state aligns to
        # the NEW schema first (added columns null-fill, dropped
        # columns drop) — a migration that defaulted a column into
        # every row legitimately feeds every row as delete+insert.
        from pyspark.sql import functions as F
        old = read_delta(engine.spark, path)
        for f in df.schema.fields:
            if f.name not in old.columns:
                old = old.withColumn(f.name,
                                     F.lit(None).cast(f.dataType))
        cols = sorted(df.columns)
        old = old.select(*cols)
        ins = (df.select(*cols).exceptAll(old)
               .withColumn("_change_type", F.lit("insert")))
        dele = (old.exceptAll(df.select(*cols))
                .withColumn("_change_type", F.lit("delete")))
        cdc_actions = _stage_cdc(ins.unionByName(dele), path, next_v,
                                 pby)
    staged = _stage_data_files(df, path, next_v, None, partition_by=pby,
                               cluster_by=cluster_by)
    adds, total = _add_actions(path, staged)
    now_ms = int(time.time() * 1000)
    removes = [{"remove": {"path": quote(rel, safe="/="),
                           "deletionTimestamp": now_ms,
                           "dataChange": True}}
               for rel in sorted(live["files"])]
    _write_commit(path, next_v, cdf_upgrade + cdc_actions
                  + removes + adds)
    _maybe_checkpoint(path, next_v, fmt=ckfmt)
    return {"files": len(staged), "rows": total, "path": path,
            "version": next_v, "commit": "refresh"}


def _export_update_dv(engine, ent, path: str, live: dict, new_ops,
                      next_v: int, cdf: bool = False, cdf_upgrade=None,
                      ckfmt: str | None = None):
    """Merge-on-read incremental commit (``deletion_vectors=True``):
    tail ``seg`` ops stage as fresh add actions, tail ``del`` ops
    resolve to per-file ROW POSITIONS over the files live at that
    point (probed in recipe order, so a delete never touches a segment
    staged after it — exactly the store's own epoch algebra) and
    commit as inline roaring deletionVector descriptors on re-emitted
    add actions.  Export IO ∝ appended rows + deleted keys; the one
    table-side cost is a key-column scan of the live export per del
    epoch, the same class as the store's own delete probe.  Files
    whose every physical row ends up deleted emit a plain remove.
    Returns None when any precondition fails — the caller falls back
    to the full refresh.

    ``cdf``: the commit additionally carries an explicit ``cdc``
    action whose ``_change_data/`` file holds the NET change rows —
    pre-images of positions deleted from PRE-EXISTING files as
    ``delete`` rows, staged-segment rows surviving any same-commit
    delete as ``insert`` rows (a row inserted and deleted within one
    commit never existed to outside observers, so it nets out —
    exactly the exceptAll answer, at O(delta) cost)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from tostore_spark.plans.delta_dv import (decode_deletion_vector,
                                              make_descriptor)
    spark = engine.spark
    live_files = dict(live["files"])
    exp_schema = StructType.fromJson(
        json.loads(live["meta"]["schemaString"]))
    pby = list(ent.get("partition_by") or [])
    # positions are keyed by file BASENAME (what _metadata.file_path
    # yields after the split), so basenames must be unique across the
    # table — they are for Spark part files; refuse otherwise
    by_base = {rel.split("/")[-1]: rel for rel in live_files}
    if len(by_base) != len(live_files):
        return None
    staged_all = []

    def _stage(seg):
        part = appended_frame(engine, ent, [seg]).select(
            *[f.name for f in exp_schema.fields])
        staged = _stage_data_files(part, path, next_v, None,
                                   partition_by=pby)
        for rel, _pv in staged:
            base = rel.split("/")[-1]
            if base in by_base:
                raise ValueError(f"staged basename {base} not unique")
            by_base[base] = rel
        staged_all.extend(staged)
        return [rel for rel, _pv in staged]

    def _read(rels):
        reader = spark.read.schema(exp_schema)
        if pby:
            # hive layout: partition columns come back via discovery,
            # so partition-keyed deletes probe too
            reader = reader.option("basePath", path)
        return reader.parquet(*[os.path.join(path, r) for r in rels])

    def _nrows(rel):
        try:
            return int(json.loads(
                live_files[rel].get("stats") or "{}")["numRecords"])
        except (ValueError, KeyError, TypeError):
            return None

    ident = {f.name: f.name for f in exp_schema.fields}
    pcols = list(live["meta"].get("partitionColumns") or [])
    new_pos = delete_positions(
        engine, new_ops, exp_schema, sorted(live_files), stage=_stage,
        read=_read,
        file_key=lambda fp: F.element_at(F.split(fp, "/"), -1),
        bounds_prune=lambda rels, node: sorted(_prune_adds(
            {r: live_files[r] for r in rels}, node, exp_schema, ident,
            pcols)),
        nrows_of=_nrows, bloom_dir=path)
    if new_pos is None:
        return None                 # refresh is always correct
    adds_new, appended_rows = _add_actions(path, staged_all)
    cdc_actions = []
    if cdf:
        staged_bases = {a["add"]["path"].split("/")[-1]
                        for a in adds_new}
        # a position already dead under a PRIOR commit's DV can be
        # re-hit by this delete's key probe (raw files keep the
        # physical rows); it must not re-surface as a cdc delete —
        # outside observers saw that row die in the earlier commit
        prior: dict = {}
        for rel0, add0 in live_files.items():
            if add0.get("deletionVector"):
                prior[rel0.split("/")[-1]] = set(
                    decode_deletion_vector(path,
                                           add0["deletionVector"]))
        pos_rows = [(b, int(p)) for b, ps in new_pos.items()
                    for p in ps if p not in prior.get(b, ())]
        pos_df = (local_df(spark, pos_rows,
                                        "__f string, __p long")
                  if pos_rows else None)

        def _keyed_scan(rels):
            return (_read(rels)
                    .withColumn("__f", F.element_at(
                        F.split(F.col("_metadata.file_path"), "/"), -1))
                    .withColumn("__p",
                                F.col("_metadata.row_index")))
        data_cols = [f.name for f in exp_schema.fields]
        parts = []
        # deletes: pre-images of positions on PRE-EXISTING files
        old_touched = sorted(by_base[b] for b in new_pos
                             if b not in staged_bases)
        if old_touched and pos_df is not None:
            parts.append(
                _keyed_scan(old_touched)
                .join(pos_df, on=["__f", "__p"])
                .select(*data_cols)
                .withColumn("_change_type", F.lit("delete")))
        # inserts: staged rows net of same-commit deletes
        staged_rels = sorted(by_base[b] for b in staged_bases)
        if staged_rels:
            ins = _keyed_scan(staged_rels)
            if pos_df is not None:
                ins = ins.join(pos_df,
                               on=["__f", "__p"], how="left_anti")
            parts.append(ins.select(*data_cols)
                         .withColumn("_change_type", F.lit("insert")))
        if parts:
            cdc = parts[0]
            for extra in parts[1:]:
                cdc = cdc.unionByName(extra)
            cdc_actions = _stage_cdc(cdc, path, next_v, pby)
    now_ms = int(time.time() * 1000)
    # merge, never clobber: a protocol upgrade must CARRY the table's
    # existing features (e.g. v2Checkpoint) or later readers lose them
    proto0 = live.get("protocol") or {}
    rfeats = {"deletionVectors"} | set(
        proto0.get("readerFeatures") or [])
    wfeats = ({"deletionVectors"}
              | set(proto0.get("writerFeatures") or [])
              | ({"changeDataFeed"} if cdf else set()))
    if ckfmt == "v2":
        rfeats.add("v2Checkpoint")
        wfeats.add("v2Checkpoint")
    actions = [{"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": sorted(rfeats),
        "writerFeatures": sorted(wfeats)}}]
    actions += [a for a in (cdf_upgrade or []) if "metaData" in a]
    removes, dv_adds = [], []
    staged_by_base = {a["add"]["path"].split("/")[-1]: a
                      for a in adds_new}
    dv_rows = 0
    for base in sorted(new_pos):
        pos = new_pos[base]
        dv_rows += len(pos)
        if base in staged_by_base:
            # del-after-seg within the same tail: the fresh add action
            # carries its descriptor directly
            add = staged_by_base[base]["add"]
            add["deletionVector"] = make_descriptor(path, pos)
            add["stats"] = _loose_stats(add.get("stats"))
            continue
        rel = by_base.get(base)
        old_add = live_files.get(rel) if rel is not None else None
        if old_add is None:
            return None
        qrel = quote(rel, safe="/=")
        total = set(pos)
        if old_add.get("deletionVector"):
            total |= set(decode_deletion_vector(
                path, old_add["deletionVector"]))
        n_records = None
        try:
            n_records = int(json.loads(old_add.get("stats") or
                                       "{}").get("numRecords"))
        except Exception:
            pass
        removes.append({"remove": {"path": qrel,
                                   "deletionTimestamp": now_ms,
                                   "dataChange": True}})
        if n_records is not None and len(total) >= n_records:
            continue                # fully-deleted file: remove only
        new_add = {k: v for k, v in old_add.items()}
        new_add["path"] = qrel
        new_add["dataChange"] = True
        new_add["deletionVector"] = make_descriptor(path, total)
        new_add["stats"] = _loose_stats(new_add.get("stats"))
        dv_adds.append({"add": new_add})
    _write_commit(path, next_v, actions + cdc_actions + removes
                  + dv_adds + adds_new)
    _maybe_checkpoint(path, next_v, fmt=ckfmt)
    return {"files": len(staged_all), "rows": appended_rows,
            "dv_files": len(new_pos), "dv_positions": dv_rows,
            "path": path, "version": next_v, "commit": "dv"}


def convert_to_delta(spark, path: str) -> dict:
    """IN-PLACE conversion of a plain parquet directory (flat or
    hive-partitioned) into a Delta table — the ``CONVERT TO DELTA``
    adoption tool: no data is copied or moved; commit v0 simply
    catalogs the existing files as add actions with per-file footer
    stats (so ``read_delta(where=)`` and foreign engines' data
    skipping work immediately) and hive ``k=v`` directory values as
    ``partitionValues``.  After conversion the table composes with
    the rest of the lifecycle: optimize_delta / vacuum_delta /
    read_delta time travel.

    Hive semantics: partition keys must form ONE consistent hierarchy
    across every file (mixed layouts refuse — a wrong partitionValues
    column is silently wrong data); ``__HIVE_DEFAULT_PARTITION__``
    decodes to null; partition column TYPES come from Spark's own
    partition-discovery inference, exactly what a scan of the
    directory would yield.

    Scale: one footer read per file (driver-side metadata, ∝ file
    count — the same class as the log it writes) and zero row IO."""
    from pyspark.sql.types import StructType
    p = local_path(path)
    log_dir = os.path.join(p, "_delta_log")
    if os.path.isdir(log_dir) and os.listdir(log_dir):
        raise ValueError(f"{p} already has a _delta_log — refusing "
                         "to re-convert")
    files = []
    for dirpath, dirs, names in os.walk(p):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                files.append(os.path.join(dirpath, n))
    if not files:
        raise ValueError(f"no parquet files under {p}")

    sample_rel = os.path.relpath(files[0], p).replace(os.sep, "/")
    pcols = []
    for seg in sample_rel.split("/")[:-1]:
        if "=" not in seg:
            raise ValueError(
                f"non-hive subdirectory {seg!r} in {sample_rel!r} — "
                "convert_to_delta needs a flat or hive layout")
        pcols.append(unquote(seg.split("=", 1)[0]))
    # one Spark schema inference pass — partition columns typed by
    # Spark's partition discovery, data columns by footer merge
    full = spark.read.option("basePath", p).parquet(p)
    schema = full.schema

    import pyarrow.parquet as pq

    from tostore_spark.plans.skipping import _fold_file
    now_ms = int(time.time() * 1000)
    adds = []
    for fp in sorted(files):
        rel = os.path.relpath(fp, p).replace(os.sep, "/")
        segs = rel.split("/")[:-1]
        keys = [unquote(s.split("=", 1)[0]) for s in segs
                if "=" in s]
        if keys != pcols or len(segs) != len(keys):
            raise ValueError(
                f"inconsistent partition layout: {rel!r} does not "
                f"follow {pcols!r}")
        pvals = {}
        for s in segs:
            k, v = s.split("=", 1)
            v = unquote(v)
            pvals[unquote(k)] = (None if v ==
                                 "__HIVE_DEFAULT_PARTITION__" else v)
        try:
            summ = _fold_file(pq.ParquetFile(fp).metadata,
                              temporal=True)
        except Exception:
            summ = {"rows": int(pq.ParquetFile(fp).metadata.num_rows),
                    "cols": {}}
        adds.append({"add": {
            "path": quote(rel, safe="/="),
            "partitionValues": pvals,
            "size": os.path.getsize(fp),
            "modificationTime": int(os.path.getmtime(fp) * 1000),
            "dataChange": True,
            "stats": _delta_stats(summ)}})
    actions = [
        {"commitInfo": {"timestamp": now_ms, "operation": "CONVERT"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": uuid.uuid4().hex,
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema.json(),
                      "partitionColumns": pcols,
                      "configuration": {},
                      "createdTime": now_ms}},
    ] + adds
    _write_commit(p, 0, actions)
    return {"path": p, "version": 0, "files": len(adds),
            "partition_columns": pcols}


def optimize_delta(spark, path: str,
                   target_file_bytes: int = 128 * 1024 * 1024,
                   cluster_by: list | None = None,
                   min_files: int = 2) -> dict:
    """Compact an exported/foreign Delta table's small files (the
    OPTIMIZE maintenance op): per partition tuple, files under
    ``target_file_bytes`` are rewritten into ~target-sized files and
    committed as remove+add actions that ALL declare
    ``dataChange=false`` — the spec's compaction form, so streaming /
    CDF readers skip the commit and the logical table provably never
    changes.  Carried deletion vectors are MATERIALIZED (deleted rows
    drop out of the rewritten files — a DV purge).  ``cluster_by``
    additionally range-clusters the rewritten files (and makes every
    live file in the partition a rewrite candidate, not just the
    small ones) so per-file stats become disjoint for skipping.

    Mirrors/incremental exporters keep working across an optimize:
    the append fast path stages only new store segments, and the DV
    path probes the CURRENT live files — both independent of file
    layout.  Column-mapped tables refuse (staging writes logical
    column names).  Time travel to every prior version is untouched
    (old files stay until ``vacuum_delta``).

    Scale: IO ∝ the rewritten files' bytes, never the table — the
    maintenance companion to mirror_delta's many small incremental
    commits.  Returns {"version", "rewritten", "files", "groups"}
    (version None = nothing to do)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType
    p = local_path(path)
    state = _replay(p, None)
    meta = state["meta"]
    from tostore_spark.plans.xtable import REVERSE_BRIDGE_PROP
    if REVERSE_BRIDGE_PROP in (meta.get("configuration") or {}):
        raise ValueError(
            "this table is an iceberg→delta reverse bridge — the "
            "Iceberg side owns the files; a delta-side rewrite would "
            "be clobbered by (and diverge from) the next "
            "sync_iceberg_to_delta.  Run rewrite_data_files and "
            "sync instead")
    cm_mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    if cm_mode not in ("none", ""):
        raise ValueError("optimize_delta under column mapping is not "
                         "supported (staging writes logical names)")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    pcols = list(meta.get("partitionColumns") or [])
    data_schema = StructType(
        [f for f in schema.fields if f.name not in pcols])
    next_v = state["version"] + 1

    by_part: dict = {}
    for rel, add in state["files"].items():
        pv = tuple(sorted((add.get("partitionValues") or {}).items()))
        by_part.setdefault(pv, []).append((rel, add))

    removes, adds, groups, rewritten = [], [], 0, 0
    now_ms = int(time.time() * 1000)
    for pv, items in sorted(by_part.items()):
        if cluster_by:
            cand = items
        else:
            cand = [(rel, a) for rel, a in items
                    if int(a.get("size") or 0) < int(target_file_bytes)]
        if len(cand) < max(2, int(min_files)) and not (
                cluster_by and cand):
            continue
        # DV purge: decode each candidate's vector once, anti-join on
        # (file basename, row position) — same fold as read_delta
        dv_rows = []
        for rel, a in cand:
            if a.get("deletionVector"):
                from tostore_spark.plans.delta_dv import \
                    decode_deletion_vector
                name = rel.split("/")[-1]
                for pos in decode_deletion_vector(
                        p, a["deletionVector"]):
                    dv_rows.append((name, pos))
        df = spark.read.schema(data_schema).parquet(
            *[os.path.join(p, rel) for rel, _a in sorted(cand)])
        if dv_rows:
            dvf = local_df(spark, 
                dv_rows, "__dv_file string, __dv_pos long")
            keep = df.columns
            df = (df
                  .withColumn("__dv_file", F.element_at(
                      F.split(F.col("_metadata.file_path"), "/"), -1))
                  .withColumn("__dv_pos", F.col("_metadata.row_index"))
                  .join(dvf,
                        on=["__dv_file", "__dv_pos"], how="left_anti")
                  .select(*keep))
        total_bytes = sum(int(a.get("size") or 0) for _r, a in cand)
        n_out = min(4096, max(1, (total_bytes + int(target_file_bytes)
                                  - 1) // int(target_file_bytes)))
        # the bin count is explicit either way (an un-sized range
        # shuffle would let AQE coalesce tiny frames back to 1 file)
        staged = _stage_data_files(df, p, next_v, n_out,
                                   cluster_by=cluster_by)
        pvals = dict(pv)
        for rel, _hive_pv in staged:
            fpath = os.path.join(p, rel)
            from tostore_spark.plans.skipping import _fold_file
            try:
                import pyarrow.parquet as pq
                summ = _fold_file(pq.ParquetFile(fpath).metadata,
                                  temporal=True)
            except Exception:
                import pyarrow.parquet as pq
                summ = {"rows": int(
                    pq.ParquetFile(fpath).metadata.num_rows),
                    "cols": {}}
            adds.append({"add": {
                "path": quote(rel, safe="/="),
                "partitionValues": pvals,
                "size": os.path.getsize(fpath),
                "modificationTime": int(
                    os.path.getmtime(fpath) * 1000),
                "dataChange": False,
                "stats": _delta_stats(summ)}})
        for rel, _a in cand:
            removes.append({"remove": {
                "path": quote(rel, safe="/="),
                "deletionTimestamp": now_ms,
                "dataChange": False}})
        groups += 1
        rewritten += len(cand)
    if not removes:
        return {"version": None, "rewritten": 0, "files": 0,
                "groups": 0, "path": p}
    _write_commit(p, next_v, [
        {"commitInfo": {"timestamp": now_ms,
                        "operation": "OPTIMIZE"}}]
        + removes + adds)
    return {"version": next_v, "rewritten": rewritten,
            "files": len(adds), "groups": groups, "path": p}


def vacuum_delta(path: str, keep_versions: int = 1,
                 dry_run: bool = False,
                 retention_sec: float = 0.0) -> dict:
    """Delta VACUUM for exports: delete data files (and deletion-vector
    ``.bin`` sidecars) referenced ONLY by versions older than the
    newest ``keep_versions`` commits.  Incremental exports never
    rewrite live files, so a refresh-heavy history accumulates dead
    parquet — this reclaims it while every RETAINED version keeps
    time-traveling exactly (the log itself is never touched; replaying
    a vacuumed-out version simply fails at the missing file, same as
    Delta).  Returns ``{"deleted", "kept", "cutoff"}``; ``dry_run``
    lists without deleting.

    Concurrent-writer safety: ``export_delta`` stages data files into
    place BEFORE claiming the commit, so a file whose ``vN-`` prefix
    names a version NEWER than the latest committed one belongs to an
    in-flight exporter and is never touched.  ``retention_sec``
    additionally skips any candidate younger than the window (Delta's
    own VACUUM retention model) — use it when foreign writers without
    the ``vN-`` convention may be staging concurrently."""
    p = local_path(path)
    from tostore_spark.plans.xtable import REVERSE_BRIDGE_PROP
    try:
        _conf = (_replay(p)["meta"].get("configuration") or {})
    except Exception:
        _conf = {}
    if REVERSE_BRIDGE_PROP in _conf:
        raise ValueError(
            "vacuum_delta on an iceberg→delta reverse bridge is "
            "unsafe — the Iceberg snapshots reference files the "
            "retained Delta versions may not; use expire_snapshots "
            "+ remove the delta tail, or re-convert")
    log_dir = os.path.join(p, "_delta_log")
    versions = sorted(
        int(f[:-len(".json")]) for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:-len(".json")].isdigit())
    ckv = []
    lc = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(lc):
        with open(lc) as fh:
            ckv = [int(json.load(fh)["version"])]
    if not versions and not ckv:
        raise FileNotFoundError(f"no delta commits under {p}")
    latest = max(versions + ckv)
    cutoff = latest - max(int(keep_versions), 1) + 1
    keep: set = set()
    for v in range(max(cutoff, min(versions + ckv)), latest + 1):
        try:
            state = _replay(p, v)
        except FileNotFoundError:
            continue        # below the checkpoint with pruned commits
        for rel, add in state["files"].items():
            keep.add(os.path.normpath(os.path.join(p, rel)))
            dv = add.get("deletionVector")
            if dv and dv.get("storageType") == "u":
                from tostore_spark.plans.delta_dv import dv_file_name
                keep.add(os.path.normpath(
                    dv_file_name(p, dv["pathOrInlineDv"])))
            elif dv and dv.get("storageType") == "p":
                fp = dv["pathOrInlineDv"]
                keep.add(os.path.normpath(local_path(fp)))
    # change-data-feed files are referenced by their COMMIT, not by
    # any version's live-file state: keep those of retained commits
    # (dead versions' cdc files reclaim like their data files)
    for v in range(max(cutoff, min(versions + ckv)), latest + 1):
        cj = os.path.join(log_dir, f"{v:020d}.json")
        if not os.path.exists(cj):
            continue
        with open(cj) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "cdc" in a:
                    keep.add(os.path.normpath(os.path.join(
                        p, unquote(a["cdc"]["path"]))))
    import re
    now = time.time()
    doomed = []
    for dirpath, dirs, names in os.walk(p):
        dirs[:] = [d for d in dirs
                   if not d.startswith((".", "_delta_log"))]
        for f in names:
            if not (f.endswith(".parquet")
                    or (f.startswith("deletion_vector_")
                        and f.endswith(".bin"))):
                continue
            m = re.match(r"v(\d+)-", f)
            if m and int(m.group(1)) > latest:
                continue    # staged by an in-flight exporter
            full = os.path.normpath(os.path.join(dirpath, f))
            if full in keep:
                continue
            if retention_sec > 0:
                try:
                    if now - os.path.getmtime(full) < retention_sec:
                        continue
                except OSError:
                    continue
            doomed.append(full)
    if not dry_run:
        for f in doomed:
            os.unlink(f)
    return {"deleted": sorted(os.path.relpath(f, p) for f in doomed),
            "kept": len(keep), "cutoff": cutoff}


# ---------------------------------------------------------------------
# reader: transaction-log replay
# ---------------------------------------------------------------------

#: reader features this replay reader actually implements: column
#: mapping in NAME mode (physical-name reads), NTZ timestamps (plain
#: parquet NTZ, which Spark reads natively), DELETION VECTORS
#: (plans/delta_dv decodes the roaring position bitmaps; the scan
#: anti-joins them on ``_metadata.row_index``), and V2 CHECKPOINTS
#: (UUID-named json/parquet checkpoint manifests + ``_sidecars/``
#: file-action parquets — the default for modern Databricks writers).
#: Column mapping covers BOTH 'name' and 'id' modes (id mode rides
#: Spark's native parquet field-id matching).  Unknown features still
#: refuse loudly: a naive replay would return wrong rows.
_SUPPORTED_READER_FEATURES = {"columnMapping", "timestampNtz",
                              "deletionVectors", "v2Checkpoint",
                              # type widening: files keep the narrow
                              # physical type and the scan upcasts to
                              # the schemaString type — Spark's
                              # parquet reader does this natively
                              "typeWidening"}


def _apply_action(state: dict, a: dict) -> None:
    if "protocol" in a:
        proto = a["protocol"]
        state["protocol"] = proto
        mrv = int(proto.get("minReaderVersion", 1))
        feats = set(proto.get("readerFeatures") or [])
        if mrv == 2:
            pass        # column mapping possible; resolved per-table
                        # from the metaData configuration at read time
        elif mrv >= 3:
            if "readerFeatures" not in proto:
                raise ValueError(
                    f"delta table needs minReaderVersion {mrv} but "
                    "lists no readerFeatures — cannot prove the "
                    "required features are supported; reading anyway "
                    "could return wrong rows")
            bad = feats - _SUPPORTED_READER_FEATURES
            if bad:
                raise ValueError(
                    f"delta table needs minReaderVersion {mrv} with "
                    f"reader features {sorted(bad)}; this replay "
                    f"reader supports {sorted(_SUPPORTED_READER_FEATURES)}"
                    " — reading anyway would return wrong rows")
    elif "metaData" in a:
        state["meta"] = a["metaData"]
    elif "add" in a:
        add = a["add"]
        state["files"][unquote(add["path"])] = add
    elif "remove" in a:
        state["files"].pop(unquote(a["remove"]["path"]), None)


def _replay(path: str, version: int | None = None) -> dict:
    """Fold the log into ``{"files": {rel: add}, "meta", "version"}``.
    Starts from the ``_last_checkpoint`` parquet when present (and not
    past the requested version), JSON commits after."""
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"no _delta_log under {path}")
    commits = sorted(
        int(f[:-len(".json")]) for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:-len(".json")].isdigit())
    state: dict = {"files": {}, "meta": None, "protocol": None}
    start = 0
    lc = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(lc):
        with open(lc) as fh:
            ck = json.load(fh)
        ckv = int(ck["version"])
        if version is None or version >= ckv:
            if not (commits and commits[0] == 0 and version is not None
                    and version < ckv):
                _apply_checkpoint(state, log_dir, ckv,
                                  int(ck.get("parts") or 0))
                start = ckv + 1
    todo = [c for c in commits if c >= start
            and (version is None or c <= version)]
    if version is not None and not todo and start == 0:
        raise FileNotFoundError(
            f"delta version {version} not present under {path}")
    for c in todo:
        with open(os.path.join(log_dir, f"{c:020d}.json")) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    _apply_action(state, json.loads(line))
    last = version if version is not None else (
        todo[-1] if todo else start - 1)
    state["version"] = last
    if state["meta"] is None:
        raise ValueError(f"no metaData action found in {log_dir} "
                         "(corrupt or unsupported table)")
    return state


#: checkpoint struct fields that are map<string,string> in the spec —
#: pyarrow's to_pylist yields them as [(k, v)] tuples; the JSON-commit
#: code path (and everything downstream) expects plain dicts
_CK_MAP_FIELDS = {"partitionValues", "configuration", "options", "tags"}


def _from_checkpoint(obj, name=None):
    """Normalize a checkpoint-parquet action struct to the exact shape
    a JSON commit line would parse to: map fields → dict, null-valued
    optional fields dropped (JSON commits simply omit them)."""
    if isinstance(obj, dict):
        return {k: _from_checkpoint(v, k) for k, v in obj.items()
                if v is not None}
    if isinstance(obj, list):
        if name in _CK_MAP_FIELDS:
            return {k: v for k, v in obj}
        return [_from_checkpoint(x) for x in obj]
    return obj


def _apply_checkpoint(state: dict, log_dir: str, ckv: int,
                      parts: int) -> None:
    """Fold checkpoint ``ckv`` into ``state``.  Three spec forms
    (PROTOCOL.md "Checkpoints"): classic single-file
    ``N.checkpoint.parquet``, classic multi-part
    ``N.checkpoint.i.parts.parquet``, and V2 ``N.checkpoint.<uuid>.
    {json|parquet}`` — a manifest holding the non-file actions plus
    either inline file actions or ``sidecar`` references to parquet
    files under ``_delta_log/_sidecars/`` that carry the add/remove
    set."""
    import pyarrow.parquet as pq
    if parts:
        names = [f"{ckv:020d}.checkpoint.{i:010d}.{parts:010d}.parquet"
                 for i in range(1, parts + 1)]
    elif os.path.exists(os.path.join(
            log_dir, f"{ckv:020d}.checkpoint.parquet")):
        names = [f"{ckv:020d}.checkpoint.parquet"]
    else:
        _apply_checkpoint_v2(state, log_dir, ckv)
        return
    for name in names:
        tbl = pq.read_table(os.path.join(log_dir, name))
        for row in tbl.to_pylist():
            for kind in ("protocol", "metaData", "add", "remove"):
                if row.get(kind) is not None:
                    _apply_action(state,
                                  {kind: _from_checkpoint(row[kind])})


def _apply_checkpoint_v2(state: dict, log_dir: str, ckv: int) -> None:
    """V2 (UUID-named) checkpoint fold.  The manifest's own actions
    apply first (protocol/metaData and any inline adds/removes; txn /
    domainMetadata are read-irrelevant and skipped; checkpointMetadata
    must name this version), then each referenced sidecar parquet's
    file actions.  Order across sidecars is immaterial by spec — a
    data file appears in exactly one sidecar."""
    import pyarrow.parquet as pq
    prefix = f"{ckv:020d}.checkpoint."
    cands = sorted(
        f for f in os.listdir(log_dir)
        if f.startswith(prefix) and len(f.split(".")) == 4
        and f.endswith((".json", ".parquet")))
    if not cands:
        raise FileNotFoundError(
            f"_last_checkpoint names version {ckv} but no classic or "
            f"v2 checkpoint file exists under {log_dir}")
    name = cands[-1]        # multiple writers may have raced the same
    #                         version; any complete manifest is valid
    actions: list[dict] = []
    if name.endswith(".json"):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    actions.append(json.loads(line))
    else:
        tbl = pq.read_table(os.path.join(log_dir, name))
        for row in tbl.to_pylist():
            for kind in ("protocol", "metaData", "add", "remove",
                         "sidecar", "checkpointMetadata"):
                if row.get(kind) is not None:
                    actions.append({kind: _from_checkpoint(row[kind])})
    sidecars = []
    for a in actions:
        if "sidecar" in a:
            sidecars.append(a["sidecar"])
        elif "checkpointMetadata" in a:
            cv = a["checkpointMetadata"].get("version")
            if cv is not None and int(cv) != ckv:
                raise ValueError(
                    f"v2 checkpoint {name} carries checkpointMetadata "
                    f"version {cv}, expected {ckv} — corrupt manifest")
        elif "txn" in a or "domainMetadata" in a or "commitInfo" in a:
            continue        # no effect on which rows a read returns
        else:
            _apply_action(state, a)
    for sc in sidecars:
        spath = sc["path"]
        if "://" in spath or os.path.isabs(spath):
            full = local_path(spath)
        else:
            full = os.path.join(log_dir, "_sidecars", spath)
        tbl = pq.read_table(full)
        for row in tbl.to_pylist():
            for kind in ("add", "remove"):
                if row.get(kind) is not None:
                    _apply_action(state,
                                  {kind: _from_checkpoint(row[kind])})


def _hive_layout(files: dict, pcols: list[str]) -> bool:
    """Whether every live file's relative path encodes EXACTLY the
    partition columns as hive ``c=v`` directories whose decoded values
    match the log's partitionValues — the precondition for letting
    Spark's partition discovery replace the per-tuple literal attach.
    Any disagreement (foreign layout, renamed dirs, value drift) keeps
    the log-driven path: the LOG is the source of truth."""
    for rel, add in files.items():
        comps = rel.replace(os.sep, "/").split("/")[:-1]
        if len(comps) != len(pcols):
            return False
        pv = add.get("partitionValues") or {}
        for comp, c in zip(comps, pcols):
            if "=" not in comp:
                return False
            k, v = comp.split("=", 1)
            if k != c:
                return False
            dec = unquote(v)
            dec = None if dec == "__HIVE_DEFAULT_PARTITION__" else dec
            if dec != pv.get(c):
                return False
    return True


def _physical_schema(schema, with_ids: bool = False):
    """Column mapping (PROTOCOL.md "Column Mapping"): the
    schemaString's logical fields each carry a
    ``delta.columnMapping.physicalName`` metadata key naming the field
    as it exists in the parquet files, and (id mode) a
    ``delta.columnMapping.id`` the files' parquet field_id matches.
    Returns (physical StructType, {logical top-level name: physical
    top-level name}).  Nested struct fields rename recursively; the
    read-side inverse is a by-position struct CAST back to the logical
    type (Spark casts struct→struct positionally, which renames every
    nesting level in one move).

    ``with_ids`` ('id' mode): each physical field carries
    ``parquet.field.id`` metadata — with
    ``spark.sql.parquet.fieldId.read.enabled`` Spark's scan then
    resolves columns BY FIELD ID, the id-mode contract (physical
    parquet names may be arbitrary and must not be trusted)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    def conv_dt(dt):
        if isinstance(dt, StructType):
            return StructType([conv_field(f) for f in dt.fields])
        if isinstance(dt, ArrayType):
            return ArrayType(conv_dt(dt.elementType), dt.containsNull)
        if isinstance(dt, MapType):
            return MapType(conv_dt(dt.keyType), conv_dt(dt.valueType),
                           dt.valueContainsNull)
        return dt

    def conv_field(f):
        md = f.metadata or {}
        phys = md.get("delta.columnMapping.physicalName", f.name)
        new_md = None
        if with_ids:
            fid = md.get("delta.columnMapping.id")
            if fid is None:
                raise ValueError(
                    f"column mapping mode 'id' but field {f.name!r} "
                    "carries no delta.columnMapping.id — refusing to "
                    "guess (a name-based fallback could read the "
                    "wrong column)")
            new_md = {"parquet.field.id": int(fid)}
        return StructField(phys, conv_dt(f.dataType), f.nullable,
                           new_md or {})

    fields = [conv_field(f) for f in schema.fields]
    return (StructType(fields),
            {lf.name: pf.name for lf, pf in zip(schema.fields, fields)})


def version_at_timestamp(path: str, as_of_ms: int,
                         allow_after_latest: bool = False) -> int:
    """TIMESTAMP AS OF resolution (the Delta rule): each commit's
    timestamp is its commitInfo.timestamp when present, else the
    commit file's modification time, adjusted to be monotonically
    non-decreasing across versions (Delta's in-commit-timestamp
    adjustment); the pick is the LATEST version at or before the
    requested instant.  O(commit files in the log) — driver-side
    metadata, never data."""
    p = local_path(path)
    log_dir = os.path.join(p, "_delta_log")
    versions = sorted(
        int(f[:-len(".json")]) for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:-len(".json")].isdigit())
    if not versions:
        raise FileNotFoundError(f"no delta commits under {p}")
    best, running = None, None
    for v in versions:
        cpath = os.path.join(log_dir, f"{v:020d}.json")
        ts = None
        try:
            with open(cpath) as fh:
                for ln in fh:
                    ln = ln.strip()
                    if not ln:
                        continue
                    a = json.loads(ln)
                    if "commitInfo" in a and \
                            a["commitInfo"].get("timestamp"):
                        ts = int(a["commitInfo"]["timestamp"])
                        break
        except Exception:
            ts = None
        if ts is None:
            ts = int(os.path.getmtime(cpath) * 1000)
        running = ts if running is None else max(running, ts)
        if running <= int(as_of_ms):
            best = v
    if best is None:
        raise ValueError(
            f"no delta commit at or before timestamp {as_of_ms} "
            f"(earliest commit in the log is version {versions[0]})")
    # Delta's TIMESTAMP AS OF errors for instants AFTER the latest
    # commit (a typo'd future timestamp must fail loudly, not silently
    # read HEAD); allow_after_latest opts into the lenient resolve
    if not allow_after_latest and int(as_of_ms) > running:
        raise ValueError(
            f"timestamp {as_of_ms} is after the latest commit "
            f"(version {versions[-1]}, adjusted timestamp {running}) "
            "— pass allow_after_latest=True to read HEAD instead")
    return best


def describe_delta_history(spark, path: str,
                           limit: int | None = None):
    """DESCRIBE HISTORY for exported/foreign Delta tables (late r17 —
    the inspection twin of ``read_iceberg_meta('snapshots')``): one
    row per commit, NEWEST FIRST, with the commitInfo fields when the
    writer recorded them and the action shape either way.

    Columns: version, timestamp, operation (commitInfo's when
    present, else derived from the actions — WRITE / DELETE /
    MERGE / OPTIMIZE / METADATA), operation_parameters (map),
    num_added_files, num_removed_files, has_cdc, has_dv.

    Scale: O(commit files) driver-side log reads — metadata only,
    the version_at_timestamp class; never row data."""
    import datetime as _dt

    from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                                   MapType, StringType, StructField,
                                   StructType, TimestampType)
    p = local_path(path)
    log_dir = os.path.join(p, "_delta_log")
    versions = sorted(
        int(f[:-len(".json")]) for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:-len(".json")].isdigit())
    if not versions:
        raise FileNotFoundError(f"no delta commits under {p}")
    if limit is not None:
        versions = versions[-int(limit):]
    rows = []
    for v in versions:
        cpath = os.path.join(log_dir, f"{v:020d}.json")
        with open(cpath) as fh:
            acts = [json.loads(ln) for ln in fh if ln.strip()]
        ci = next((a["commitInfo"] for a in acts
                   if "commitInfo" in a), {})
        adds = [a["add"] for a in acts if "add" in a]
        removes = [a["remove"] for a in acts if "remove" in a]
        has_cdc = any("cdc" in a for a in acts)
        has_dv = any(a.get("deletionVector") for a in adds)
        op = ci.get("operation")
        if not op:
            if not adds and not removes:
                op = "METADATA"
            elif has_dv or (adds and removes):
                op = "MERGE"
            elif removes:
                op = "DELETE"
            else:
                op = "WRITE"
        ts_ms = ci.get("timestamp") or int(
            os.path.getmtime(cpath) * 1000)
        ts = _dt.datetime.fromtimestamp(
            int(ts_ms) / 1000.0, _dt.timezone.utc).replace(tzinfo=None)
        rows.append((v, ts, op,
                     {k: str(val) for k, val in
                      (ci.get("operationParameters") or {}).items()},
                     len(adds), len(removes), has_cdc, has_dv))
    rows.sort(key=lambda r: -r[0])
    return local_df(spark, rows, StructType([
        StructField("version", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("operation", StringType()),
        StructField("operation_parameters",
                    MapType(StringType(), StringType())),
        StructField("num_added_files", IntegerType()),
        StructField("num_removed_files", IntegerType()),
        StructField("has_cdc", BooleanType()),
        StructField("has_dv", BooleanType())]))


def describe_delta_detail(spark, path: str):
    """DESCRIBE DETAIL for exported/foreign Delta tables: ONE row of
    current-state facts — format, id, location, partition columns,
    live file count/bytes, protocol versions, table properties.
    O(log replay) driver-side; never row data."""
    from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                   MapType, StringType, StructField,
                                   StructType)
    p = local_path(path)
    state = _replay(p, None)
    meta = state["meta"] or {}
    proto = state.get("protocol") or {}
    files = state["files"]
    size = 0
    for add in files.values():
        try:
            size += int(add.get("size") or 0)
        except (TypeError, ValueError):
            pass
    row = (meta.get("format", {}).get("provider", "parquet"),
           meta.get("id"), p,
           list(meta.get("partitionColumns") or []),
           len(files), size,
           {k: str(v) for k, v in
            (meta.get("configuration") or {}).items()},
           int(proto.get("minReaderVersion") or 1),
           int(proto.get("minWriterVersion") or 2),
           int(state["version"]))
    return local_df(spark, [row], StructType([
        StructField("format", StringType()),
        StructField("id", StringType()),
        StructField("location", StringType()),
        StructField("partition_columns", ArrayType(StringType())),
        StructField("num_files", LongType()),
        StructField("size_in_bytes", LongType()),
        StructField("properties", MapType(StringType(),
                                          StringType())),
        StructField("min_reader_version", IntegerType()),
        StructField("min_writer_version", IntegerType()),
        StructField("version", LongType())]))


def read_delta(spark, path: str, version: int | None = None,
               where=None, as_of_ms: int | None = None):
    """Read a Delta table by replaying its transaction log — the
    no-library read-back for ``export_delta`` outputs AND for external
    Delta tables (minReaderVersion 1, plus 'name'/'id'-mode column
    mapping, deletion vectors and v2 checkpoints under
    minReaderVersion 2/3; unknown features refuse loudly).
    ``version`` time-travels
    to that commit.  Hive-style ``partitionValues`` attach as literal
    columns typed per the schema.

    ``where`` (dict / QueryCondition / ConditionNode — the engine's
    predicate language, ``condition.to_condition_node``) is the scan-
    planning surface: files whose add-action STATS or partitionValues
    refute the predicate are pruned from the scan at the log level
    (Delta's own data-skipping design), and the predicate re-applies
    to the surviving rows with the engine's two-valued semantics, so
    pruning can only ever narrow the work, never change the result.
    ``as_of_ms`` time-travels by COMMIT TIMESTAMP instead
    (``version_at_timestamp`` — the TIMESTAMP AS OF rule)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType
    p = local_path(path)
    if as_of_ms is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ms, not both")
        version = version_at_timestamp(p, as_of_ms)
    state = _replay(p, version)
    schema = StructType.fromJson(
        json.loads(state["meta"]["schemaString"]))
    pcols = list(state["meta"].get("partitionColumns") or [])
    files = state["files"]
    cm_mode = (state["meta"].get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    if cm_mode in ("none", ""):
        pschema, top_map = schema, {f.name: f.name for f in schema.fields}
    elif cm_mode == "name":
        pschema, top_map = _physical_schema(schema)
    elif cm_mode == "id":
        # field-id resolution rides Spark's native parquet field-id
        # matching: the physical schema carries parquet.field.id
        # metadata and the conf below makes every scan of it resolve
        # columns by id, never by (untrustworthy) physical name.  The
        # conf only changes behavior for read schemas that CARRY ids,
        # so leaving it enabled session-wide is safe.
        pschema, top_map = _physical_schema(schema, with_ids=True)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    else:
        raise ValueError(
            f"delta column mapping mode {cm_mode!r} unsupported")

    node = None
    if where is not None:
        from tostore_spark.condition import to_condition_node
        node = to_condition_node(where)
        if node is not None and node.is_empty():
            node = None
    if node is not None:
        node = _coerce_where_values(node, schema)
        # log-level scan planning: drop files whose stats refute the
        # predicate (a pruned file's deletion vector never decodes)
        files = _prune_adds(files, node, schema, top_map, pcols)

    def _apply_where(out):
        # row-side re-application: pruning narrows, the filter defines
        if node is None:
            return out
        from tostore_spark.compile import where_filter_column
        return out.filter(where_filter_column(node, out.schema))

    def _finish(df):
        # physical → logical: rename top level, CAST renames nested
        if cm_mode in ("none", ""):
            return df
        return df.select(*[
            F.col(top_map[f.name]).cast(f.dataType).alias(f.name)
            for f in schema.fields])

    # deletion vectors: decode every carried descriptor to (file
    # basename, row position) pairs ONCE — |positions| = |deleted
    # rows|, the same O(delta) driver class as the store's own
    # broadcast key frames (cap: delta_dv.MAX_TOTAL_POSITIONS).  Each
    # scan then anti-joins on (_metadata file basename, row_index) —
    # exactly the merge-on-read fold the store applies to its own
    # deletion vectors, keyed by physical position instead of PK.
    dv_pos = None
    dv_files = {rel: add for rel, add in files.items()
                if add.get("deletionVector")}
    if dv_files:
        from tostore_spark.plans.delta_dv import (MAX_TOTAL_POSITIONS,
                                                  decode_deletion_vector)
        total_card = sum(int(a["deletionVector"].get("cardinality") or 0)
                         for a in dv_files.values())
        if total_card > MAX_TOTAL_POSITIONS:
            raise ValueError(
                f"deletion vectors carry {total_card} positions, over "
                f"the driver-side bound {MAX_TOTAL_POSITIONS}")
        base_names = [rel.split("/")[-1] for rel in files]
        if len(set(base_names)) != len(base_names):
            raise ValueError(
                "duplicate data-file basenames; cannot key deletion "
                "vectors by file name")
        rows = []
        for rel, add in dv_files.items():
            name = rel.split("/")[-1]
            if any(ch in name for ch in " %#?"):
                raise ValueError(
                    f"data file name {name!r} needs URI escaping; "
                    "refusing to key its deletion vector")
            for v in decode_deletion_vector(p, add["deletionVector"]):
                rows.append((name, v))
        dv_pos = local_df(spark, 
            rows, "__dv_file string, __dv_pos long")

    def _dv_filter(df):
        # must run directly on a scan output (hidden _metadata column)
        if dv_pos is None:
            return df
        keep = df.columns
        keyed = (df
                 .withColumn("__dv_file",
                             F.element_at(
                                 F.split(F.col("_metadata.file_path"),
                                         "/"), -1))
                 .withColumn("__dv_pos", F.col("_metadata.row_index")))
        return (keyed.join(dv_pos,
                           on=["__dv_file", "__dv_pos"],
                           how="left_anti")
                .select(*keep))

    if not files:
        return local_df(spark, [], schema)
    if not pcols:
        return _apply_where(_finish(_dv_filter(
            spark.read.schema(pschema)
            .parquet(*[os.path.join(p, rel) for rel in sorted(files)]))))
    if cm_mode in ("none", "") and _hive_layout(files, pcols):
        # the live files sit in a hive ``c=v`` directory layout whose
        # decoded values AGREE with the log's partitionValues (always
        # true for export_delta's own output): ONE partition-discovered
        # scan under basePath replaces the per-partition-tuple
        # unionByName fold — a 1,000-partition table gets a 1-branch
        # plan, and the partition columns come back typed per the
        # schema (r11-verdict scalability order)
        return _apply_where(_dv_filter(
            spark.read.schema(schema).option("basePath", p)
            .parquet(*[os.path.join(p, rel) for rel in sorted(files)])
        ).select(*[f.name for f in schema.fields]))
    # foreign non-hive layout: partition data exists ONLY in the log —
    # group files by their partition tuple and attach the values as
    # typed literal columns (one grouped read per distinct tuple).
    # Under 'name' mapping everything below runs in PHYSICAL names
    # (partitionValues are keyed by physical name per the spec);
    # _finish renames back once at the end.
    # each add's OWN partitionValues keys are authoritative (r17): a
    # table whose partitionColumns CHANGED mid-history has files
    # missing DIFFERENT columns per generation — old files carry the
    # old keys in their pv map, new files the new keys; grouping by
    # the full (keys, values) tuple reads every generation correctly
    known = {f.name for f in pschema.fields}
    by_part: dict = {}
    for rel, add in files.items():
        pv_map = {k: v
                  for k, v in (add.get("partitionValues") or {}).items()
                  if k in known}
        by_part.setdefault(tuple(sorted(pv_map.items())),
                           []).append(rel)
    out = None
    for key, rels in sorted(by_part.items(),
                            key=lambda kv: tuple(str(x)
                                                 for x in kv[0])):
        pv_map = dict(key)
        group_schema = StructType(
            [f for f in pschema.fields if f.name not in pv_map])
        part = _dv_filter(spark.read.schema(group_schema).parquet(
            *[os.path.join(p, rel) for rel in sorted(rels)]))
        for pc, v in pv_map.items():
            typ = pschema[pc].dataType
            part = part.withColumn(
                pc, F.lit(v).cast(typ) if v is not None
                else F.lit(None).cast(typ))
        part = part.select(*[f.name for f in pschema.fields])
        out = part if out is None else out.unionByName(part)
    return _apply_where(_finish(out))


# ---------------------------------------------------------------------
# change data feed reader
# ---------------------------------------------------------------------

def _read_change_files(spark, p: str, actions: list[dict], schema,
                       pcols: list[str], with_change_type: bool):
    """Read the files behind cdc/add actions, attaching each action's
    ``partitionValues`` as typed literal columns (grouped by the
    action's OWN partition keys+values — never the directory layout
    and never a single global partition-column list, so generations
    written before a mid-range PARTITION CHANGE read their own
    recorded columns; per spec the log is authoritative)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    known = {f.name for f in schema.fields}
    by_part: dict = {}
    for a in actions:
        pv_map = {k: v
                  for k, v in (a.get("partitionValues") or {}).items()
                  if k in known}
        by_part.setdefault(tuple(sorted(pv_map.items())),
                           []).append(unquote(a["path"]))
    out = None
    for key, rels in sorted(by_part.items(),
                            key=lambda kv: tuple(str(x)
                                                 for x in kv[0])):
        pv_map = dict(key)
        read_schema = StructType(
            [f for f in schema.fields if f.name not in pv_map]
            + ([StructField("_change_type", StringType(), True)]
               if with_change_type else []))
        part = spark.read.schema(read_schema).parquet(
            *[os.path.join(p, rel) for rel in sorted(rels)])
        for c, v in pv_map.items():
            typ = schema[c].dataType
            part = part.withColumn(
                c, F.lit(v).cast(typ) if v is not None
                else F.lit(None).cast(typ))
        cols = [f.name for f in schema.fields] + (
            ["_change_type"] if with_change_type else [])
        part = part.select(*cols)
        out = part if out is None else out.unionByName(part)
    return out


def read_delta_cdf(spark, path: str, from_version: int,
                   to_version: int | None = None, where=None):
    """Read a Delta table's CHANGE DATA FEED over a commit range
    (PROTOCOL.md "Add CDC File" / "Change Data Files") — the
    incremental-consumer interface: each returned row is a change with
    ``_change_type`` (insert / delete / update_preimage /
    update_postimage, passed through from foreign writers) and
    ``_commit_version``.

    Per-commit semantics (the spec's derivation rule): a commit with
    ``cdc`` actions is consumed from those files ONLY; an add-only
    dataChange commit derives ``insert`` rows from its add actions; a
    metadata/protocol-only commit contributes nothing; anything else
    without cdc (removes, deletion-vector rewrites) REFUSES — deriving
    it would either overstate changes or require whole-version diffs
    the feed exists to avoid.

    ``where`` (the engine predicate language) filters the FEED: a
    consumer subscribing to a key range reads only matching change
    rows, and derivable append commits additionally prune their add
    files by log stats before reading (cdc files carry no stats —
    those filter row-side only).  Requires
    ``delta.enableChangeDataFeed`` at ``from_version`` and every
    commit json in the range to still exist (same contract as Delta:
    CDF does not read through checkpoints or vacuumed history)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    p = local_path(path)
    log_dir = os.path.join(p, "_delta_log")
    versions = sorted(
        int(f[:-len(".json")]) for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:-len(".json")].isdigit())
    if not versions:
        raise FileNotFoundError(f"no delta commits under {p}")
    if to_version is None:
        to_version = versions[-1]
    if from_version > to_version:
        raise ValueError(f"from_version {from_version} > to_version "
                         f"{to_version}")
    state = _replay(p, from_version)
    meta = state["meta"]
    conf = (meta or {}).get("configuration") or {}
    if conf.get("delta.enableChangeDataFeed") != "true":
        raise ValueError(
            "delta.enableChangeDataFeed is not set at version "
            f"{from_version} — the table carries no change data feed "
            "for this range")
    # rows come back under the schema at the END of the range (the
    # Delta CDF contract): change files written before a mid-range
    # schema evolution null-fill the added columns; under COLUMN
    # MAPPING a mid-range logical RENAME keeps the physical parquet
    # columns stable, so every commit's files read through the END
    # schema's physical names and surface under its logical names —
    # exactly the rename-survival rule (r17).  Files written before a
    # mid-range mapping ENABLEMENT carry logical names that the
    # upgrade froze as the physical names, so the same read covers
    # them.
    end_meta = _replay(p, to_version)["meta"]
    schema = StructType.fromJson(json.loads(end_meta["schemaString"]))
    pcols = list(end_meta.get("partitionColumns") or [])
    cm_mode = ((end_meta or {}).get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    if cm_mode in ("none", ""):
        pschema, top_map = schema, {f.name: f.name
                                    for f in schema.fields}
    else:
        # PARTITIONED tables read through the mapping too (late r17):
        # partitionValues are keyed by PHYSICAL names (the spec's
        # rule) and _read_change_files attaches each action's OWN
        # values under the physical schema — the same per-generation
        # rule read_delta applies; _logical renames once at the end
        if cm_mode == "name":
            pschema, top_map = _physical_schema(schema)
        elif cm_mode == "id":
            pschema, top_map = _physical_schema(schema, with_ids=True)
            spark.conf.set(
                "spark.sql.parquet.fieldId.read.enabled", "true")
        else:
            raise ValueError(
                f"delta column mapping mode {cm_mode!r} unsupported")

    def _logical(df, extra=()):
        # physical → logical: rename top level, CAST renames nested
        if cm_mode in ("none", ""):
            return df
        return df.select(*[
            F.col(top_map[f.name]).cast(f.dataType).alias(f.name)
            for f in schema.fields], *extra)
    node = None
    if where is not None:
        from tostore_spark.condition import to_condition_node
        node = to_condition_node(where)
        if node is not None and node.is_empty():
            node = None
        if node is not None:
            node = _coerce_where_values(node, schema)
    ident = top_map
    out = None
    for v in range(from_version, to_version + 1):
        cpath = os.path.join(log_dir, f"{v:020d}.json")
        if not os.path.exists(cpath):
            raise ValueError(
                f"commit {v} is missing from the log (vacuumed or "
                "checkpoint-pruned); a CDF range must replay commit "
                "by commit")
        with open(cpath) as fh:
            acts = [json.loads(ln) for ln in fh if ln.strip()]
        cdcs = [a["cdc"] for a in acts if "cdc" in a]
        adds = [a["add"] for a in acts if "add" in a]
        removes = [a["remove"] for a in acts if "remove" in a]
        # _commit_timestamp (spec: in-commit timestamp when present,
        # else the commit file's modification time — the same rule
        # Delta's own CDF reader applies)
        ts_ms = None
        for a in acts:
            if "commitInfo" in a and a["commitInfo"].get("timestamp"):
                ts_ms = int(a["commitInfo"]["timestamp"])
                break
        if ts_ms is None:
            ts_ms = int(os.path.getmtime(cpath) * 1000)
        if cdcs:
            part = _logical(
                _read_change_files(spark, p, cdcs, pschema, pcols,
                                   with_change_type=True),
                extra=("_change_type",))
        elif adds and not removes and \
                all(a.get("dataChange") for a in adds) and \
                not any(a.get("deletionVector") for a in adds):
            if node is not None:
                # derivable appends carry stats: prune their files at
                # the log level before reading (same conservative
                # refutation as read_delta; ``ident`` maps logical →
                # the PHYSICAL stats keys under column mapping)
                pruned = _prune_adds(
                    {a["path"]: a for a in adds}, node, schema,
                    ident, pcols)
                adds = list(pruned.values())
                if not adds:
                    continue
            part = (_logical(
                _read_change_files(spark, p, adds, pschema, pcols,
                                   with_change_type=False))
                .withColumn("_change_type", F.lit("insert")))
        elif not adds and not removes:
            continue                    # metadata/protocol-only commit
        elif (adds or removes) and \
                not any(a.get("dataChange") for a in adds) and \
                not any(r.get("dataChange") for r in removes):
            # compaction/optimize commit: every action declares
            # dataChange=false — the LOGICAL table is unchanged and
            # the spec requires CDF readers to skip it entirely
            continue
        else:
            raise ValueError(
                f"commit {v} changes existing files without cdc "
                "actions — its changes cannot be derived (the writer "
                "did not maintain the feed for this commit)")
        part = (part.withColumn("_commit_version",
                                F.lit(int(v)).cast("long"))
                .withColumn("_commit_timestamp",
                            F.timestamp_millis(F.lit(ts_ms))))
        out = part if out is None else out.unionByName(part)
    cols = ([f.name for f in schema.fields]
            + ["_change_type", "_commit_version", "_commit_timestamp"])
    if out is not None and node is not None:
        from tostore_spark.compile import where_filter_column
        out = out.filter(where_filter_column(node, out.schema))
    if out is None:
        from pyspark.sql.types import TimestampType
        empty = StructType(
            schema.fields
            + [StructField("_change_type", StringType()),
               StructField("_commit_version", LongType()),
               StructField("_commit_timestamp", TimestampType())])
        return local_df(spark, [], empty)
    return out.select(*cols)
