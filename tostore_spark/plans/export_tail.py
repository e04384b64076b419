"""The one format-neutral half of incremental export.

``export_delta`` and ``export_iceberg`` both publish a store table in
an open format and, under ``mode="update"``, commit only what changed
since their last export.  What changed is a question about the store,
not the format: the table's recipe (``store._entry_ops``, its ordered
``seg``/``del`` ops) either *extends* the recipe the last export
recorded, and then only the ops past it need exporting, or it does not,
and the export refreshes.  This module answers that question once:

- ``read_state``/``write_state``: the export-state sidecar
  (``_export_state.json`` for Delta, ``_iceberg_export_state.json`` for
  Iceberg), which records the recipe an export took;
- ``recipe_tail``: the ops appended since that recipe, or None;
- ``appended_frame``: the visible frame of appended segments;
- ``delete_positions``: the row positions, in the exported files, of
  the keys the tail's ``del`` ops delete (bounds prune, then the per-file
  key blooms, then a ``_metadata.row_index`` join with a bounded
  collect);
- ``refuse_declassify``: the refusal every exporter raises before it
  would write at-rest-encrypted columns in plaintext.

The exporters keep only what their format writes: Delta its add,
remove, deletion-vector and CDC actions and the protocol; Iceberg its
manifests, position and equality delete files and schema/spec
evolution.
"""

from __future__ import annotations

import json
import logging
import os

_log = logging.getLogger(__name__)


def refuse_declassify(engine, table: str, exporter: str,
                      allow_decrypted: bool) -> None:
    """Raise unless ``table`` has no at-rest-encrypted field or the
    caller passed ``allow_decrypted=True``: every export reads
    ``engine.df``, which decrypts, so it would silently declassify the
    table into a world-readable file."""
    if allow_decrypted:
        return
    try:
        enc = engine._enc_cols(engine._resolve(table))
    except Exception:
        enc = []
    if enc:
        raise ValueError(
            f"table {table} has at-rest-encrypted fields {enc}; "
            f"{exporter} would write them DECRYPTED — pass "
            "allow_decrypted=True to do that deliberately")


def read_state(path: str, name: str) -> dict | None:
    """The export-state sidecar ``name`` under ``path``, or None."""
    try:
        with open(os.path.join(path, name)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def write_state(engine, table: str, path: str, name: str,
                **head) -> None:
    """Record the recipe this export took, atomically.  ``head`` holds
    the format's own fields (Delta: ``ckfmt``, ``delta_version``;
    Iceberg: ``snapshot_id``).

    ``clean`` says whether the export was taken with zero unflushed
    mutations.  A dirty export snapshots ``engine.df()``, which holds
    rows no recipe op has yet, so its recorded ops understate the
    exported data; a later flush of those rows would look like a pure
    append and export them twice.  ``recipe_tail`` therefore requires
    ``clean``."""
    from tostore_spark.store import _entry_ops
    key = engine._resolve(table)
    state = {"space": key[0], "table": key[1],
             "ops": _entry_ops(engine._tables[key]), **head,
             "store_generation": engine._generations.get(key, 0),
             "clean": engine._is_clean(key)}
    tmp = os.path.join(path, name + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, os.path.join(path, name))


def recipe_tail(engine, key, state: dict | None) -> list | None:
    """The ops the table's recipe gained since the export ``state``
    recorded — ``[]`` when nothing changed — or None when the recipe
    does not extend it (another table, a dirty export or engine, a
    rewrite), and the export must refresh."""
    from tostore_spark.store import _entry_ops
    if (state is None or not engine._is_clean(key)
            or state.get("clean") is not True
            or state.get("space") != key[0]
            or state.get("table") != key[1]):
        return None
    old = state.get("ops") or []
    cur = _entry_ops(engine._tables[key])
    return cur[len(old):] if cur[:len(old)] == old else None


def appended_frame(engine, ent: dict, segs: list):
    """The visible rows of the appended segments ``segs``, in the
    registry frame's column order: exactly what ``engine.df()``
    surfaces of them."""
    from functools import reduce

    from tostore_spark.at_rest import to_visible
    names = [f.name for f in ent["df"].schema.fields]
    schema = ent["df"].schema if ent.get("partition_by") else None
    return to_visible(
        reduce(lambda a, b: a.unionByName(b),
               [engine._read_parquet(seg, schema=schema).select(*names)
                for seg in segs]),
        ent["schema"], engine.encryption)


def key_bounds_where(keys, fields: dict,
                     skip_tz: bool = False) -> dict | None:
    """Per-column conjunctive BETWEEN bounds of a delete-key frame —
    the sound file-refutation predicate for a key probe: a file can
    only hold a matching row if EVERY key column's range overlaps
    that column's key range (composite keys AND their per-column
    bounds; the store-CDC composite rule).  Bounds are computed
    TIMEZONE-INDEPENDENTLY: PySpark renders TimestampType in the
    driver's OS zone on collect, while log/manifest stats compare
    naive-UTC — so tz-aware columns aggregate ``unix_micros`` and
    rebuild naive-UTC datetimes driver-side (sound when the result
    feeds DRIVER-side stats refutation only).  ``skip_tz=True``
    excludes tz-aware columns from the conjunction entirely — for
    call sites whose predicate ALSO becomes a Spark row filter, where
    a naive literal's interpretation rides the session timezone and a
    rebuilt-UTC bound could over-filter true rows on a non-UTC
    driver.  A column with any NULL key contributes no bound (a null
    never satisfies BETWEEN, so the conjunct would wrongly refute);
    returns None when no column yields bounds.  ``fields`` maps
    column name → StructField."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [c for c in keys.columns if c in fields]
    if skip_tz:
        cols = [c for c in cols
                if not isinstance(fields[c].dataType,
                                  T.TimestampType)]
    if not cols:
        return None
    aggs = []
    tz_cols = set()
    for c in cols:
        if isinstance(fields[c].dataType, T.TimestampType):
            tz_cols.add(c)
            lo_c = F.min(F.unix_micros(F.col(c)))
            hi_c = F.max(F.unix_micros(F.col(c)))
        else:
            lo_c, hi_c = F.min(F.col(c)), F.max(F.col(c))
        aggs += [lo_c.alias(f"__lo_{c}"), hi_c.alias(f"__hi_{c}"),
                 F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                 .alias(f"__nn_{c}")]
    b = keys.agg(*aggs).first()

    def _utc(micros):
        return datetime(1970, 1, 1) + timedelta(
            microseconds=int(micros))

    conj = {}
    for c in cols:
        lo, hi = b[f"__lo_{c}"], b[f"__hi_{c}"]
        if lo is None or hi is None or b[f"__nn_{c}"]:
            continue
        if c in tz_cols:
            lo, hi = _utc(lo), _utc(hi)
        conj[c] = {"BETWEEN": {"start": lo, "end": hi}}
    return conj or None


def delete_positions(engine, tail: list, schema, live: list, *,
                     stage, read, file_key, bounds_prune, nrows_of,
                     bloom_dir: str) -> dict | None:
    """Resolve the tail's ``del`` ops to row positions in the exported
    files: ``{file key: {row_index, ...}}``, or None when any step
    cannot prove its answer and the caller must refresh instead.

    The tail is walked in recipe order.  A ``seg`` op is handed to
    ``stage(seg)``, which writes it in the format and returns the new
    files; they join the probe, so a delete reaches a segment staged
    before it and never one staged after it — the store's own epoch
    algebra.  For a ``del`` op, the files of ``live`` still in the probe
    are pruned first by the format's stats (``bounds_prune(files,
    node)``) against the keys' per-column bounds, then by the per-file
    key blooms (``nrows_of(file)`` sizes them; the sidecar lives under
    ``bloom_dir``).  Files staged in this tail always probe.  The
    survivors are read with ``read(files)`` (the export ``schema``),
    joined to the keys on ``_metadata.row_index``, and collected at
    most up to the driver-side position bound: an oversized delete
    trips the bound instead of flooding the driver.  ``file_key``
    turns ``_metadata.file_path`` into the caller's file key."""
    from pyspark.sql import functions as F

    from tostore_spark.compile import coerce_where_values
    from tostore_spark.condition import to_condition_node
    from tostore_spark.plans.delta_dv import MAX_TOTAL_POSITIONS
    from tostore_spark.plans.delta_export import _bloom_prune_probe
    from tostore_spark.store import read_delete_keys
    fields = {f.name: f for f in schema.fields}
    live_set = set(live)
    probe = list(live)
    pos: dict = {}
    try:
        for kind, op_path in tail:
            if kind == "seg":
                probe += stage(op_path)
                continue
            keys = read_delete_keys(
                engine, op_path[:-1] if op_path.endswith("/") else op_path)
            kcols = list(keys.columns)
            if not set(kcols) <= set(fields):
                raise ValueError("delete keys invisible in the exported "
                                 "schema")
            live_cand = [f for f in probe if f in live_set]
            new_cand = [f for f in probe if f not in live_set]
            bw = key_bounds_where(keys, fields) if live_cand else None
            if bw is not None:
                live_cand = bounds_prune(live_cand, coerce_where_values(
                    to_condition_node(bw), schema))
            if live_cand:
                live_cand = _bloom_prune_probe(
                    bloom_dir, live_cand, keys, kcols,
                    lambda files: read(files).select(
                        *kcols, F.col("_metadata.file_path")
                        .alias("__path")),
                    nrows_of, live_rels=live)
            cand = live_cand + new_cand
            if not cand:
                continue
            room = MAX_TOTAL_POSITIONS - sum(len(v) for v in pos.values())
            hits = (read(cand)
                    .select(*kcols,
                            file_key(F.col("_metadata.file_path"))
                            .alias("__f"),
                            F.col("_metadata.row_index").alias("__p"))
                    .join(keys.distinct(), on=kcols)
                    .select("__f", "__p")
                    .limit(room + 1).collect())
            if len(hits) > room:
                raise ValueError("delete positions over the driver-side "
                                 "bound")
            for r in hits:
                pos.setdefault(r["__f"], set()).add(int(r["__p"]))
    except Exception:
        _log.debug("tail delete probe failed; the export refreshes",
                   exc_info=True)
        return None
    return pos
