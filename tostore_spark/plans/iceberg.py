"""Apache Iceberg table interop — no-library reader and exporter.

Extends the repo's table-format rung (``plans/delta_export.py``) to the
other open format: read Iceberg v1/v2 tables (including v2
merge-on-read position AND equality deletes, snapshot time travel, and
field-id column resolution), and export store tables as Iceberg v2
tables a foreign engine can consume.  Everything derives from the
PUBLIC Iceberg Table Spec (https://iceberg.apache.org/spec/):

* table metadata = ``metadata/v{N}.metadata.json`` (+
  ``version-hint.text``, the filesystem-catalog convention);
* each snapshot points at a **manifest list** (Avro) whose entries
  point at **manifest files** (Avro) whose entries describe data /
  delete files (parquet) — decoded with ``plans/avro_io`` (pure
  Python, spec-pinned byte fixtures in ``tests/test_iceberg.py``);
* v2 sequence-number inheritance: a manifest entry with a null
  ``sequence_number`` and status ADDED inherits the manifest-list
  entry's sequence number;
* delete application (spec "Scan Planning"): a POSITION delete file
  applies to a data file when ``delete.data_seq >= data.data_seq``
  (same-commit rewrites included); an EQUALITY delete applies when
  ``delete.data_seq > data.data_seq`` (strictly earlier data only);
* column resolution is BY FIELD ID (spec "Column Projection"): the
  read schema carries ``parquet.field.id`` metadata from the table
  schema and Spark's native parquet field-id matching
  (``spark.sql.parquet.fieldId.read.enabled``) resolves physical
  columns — renames in the table's history never mis-bind.

Scale contract: manifests are metadata ∝ file count (the same class as
Delta log replay — driver-side, never row data); the data itself is ONE
Spark parquet scan over the live file list, so pruning/pushdown ride
Catalyst as usual.  Delete application is two anti-joins keyed on
``(_metadata.file_path, _metadata.row_index)`` / the equality columns —
row-level work stays distributed.

Reference parity note: the reference engine (tocreator/tostore) has no
table-format interop; this is parity-plus, motivated by the same
"escape hatch into the open ecosystem" goal as the Delta rung.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import struct
import time
import uuid
from contextlib import contextmanager
from urllib.parse import unquote

# the interop modules' one local-path helper, under this module's name
from tostore_spark.fs import local_path as _norm_path
from tostore_spark.localdf import local_df
from tostore_spark.pin import pin
from tostore_spark.plans.avro_io import (read_container_file,
                                         write_container_file)
from tostore_spark.plans.export_tail import (appended_frame,
                                             delete_positions,
                                             key_bounds_where, read_state,
                                             recipe_tail,
                                             refuse_declassify,
                                             write_state)

_HINT = "version-hint.text"


@contextmanager
def _conf_pins(spark, pins: dict):
    """Save/set/finally-restore session confs — the shared discipline
    every conf pin here follows so a caller-owned session keeps its
    settings (``_stage_iceberg_data`` introduced the pattern; this
    makes it reusable).  Only safe around EAGER work: a lazy frame
    returned to the caller must not depend on a pinned value."""
    olds = {k: spark.conf.get(k, None) for k in pins}
    for k, v in pins.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in olds.items():
            if old is not None:
                spark.conf.set(k, old)
            else:
                spark.conf.unset(k)


# ------------------------------------------------------------ type maps

def _iceberg_to_spark(t):
    """Iceberg schema JSON type → Spark DataType (+ field-id metadata
    carried on struct fields)."""
    from pyspark.sql import types as T
    if isinstance(t, dict):
        k = t["type"]
        if k == "struct":
            return T.StructType([_field_to_spark(f) for f in t["fields"]])
        if k == "list":
            return T.ArrayType(_iceberg_to_spark(t["element"]),
                               containsNull=not t.get("element-required",
                                                      False))
        if k == "map":
            return T.MapType(_iceberg_to_spark(t["key"]),
                             _iceberg_to_spark(t["value"]),
                             valueContainsNull=not t.get("value-required",
                                                         False))
        raise ValueError(f"iceberg: unknown complex type {k!r}")
    from pyspark.sql.types import (BinaryType, BooleanType, DateType,
                                   DecimalType, DoubleType, FloatType,
                                   IntegerType, LongType, StringType,
                                   TimestampNTZType, TimestampType)
    prim = {"boolean": BooleanType(), "int": IntegerType(),
            "long": LongType(), "float": FloatType(),
            "double": DoubleType(), "date": DateType(),
            "string": StringType(), "binary": BinaryType(),
            "uuid": StringType(),      # spec: readers may surface as str
            "time": LongType(),        # micros-since-midnight (no Spark
                                       # time type exists)
            "timestamp": TimestampNTZType(),
            "timestamptz": TimestampType()}
    if t in prim:
        return prim[t]
    m = re.fullmatch(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        return DecimalType(int(m.group(1)), int(m.group(2)))
    m = re.fullmatch(r"fixed\[(\d+)\]", t)
    if m:
        from pyspark.sql.types import BinaryType
        return BinaryType()
    raise ValueError(f"iceberg: unsupported type {t!r}")


def _field_to_spark(f: dict):
    from pyspark.sql.types import StructField
    return StructField(f["name"], _iceberg_to_spark(f["type"]),
                       nullable=not f.get("required", False),
                       metadata={"parquet.field.id": int(f["id"])})


def _schema_to_spark(schema_json: dict):
    from pyspark.sql.types import StructType
    return StructType([_field_to_spark(f)
                       for f in schema_json["fields"]])


def _strip_field_ids(schema):
    """Read schema WITHOUT parquet.field.id metadata — Spark then
    resolves parquet columns BY NAME, the resolution mode for tables
    whose data files carry no field ids (spec name mapping)."""
    from pyspark.sql.types import (ArrayType, MapType, StructField,
                                   StructType)

    def walk(dt):
        if isinstance(dt, StructType):
            return StructType([StructField(f.name, walk(f.dataType),
                                           f.nullable)
                               for f in dt.fields])
        if isinstance(dt, ArrayType):
            return ArrayType(walk(dt.elementType), dt.containsNull)
        if isinstance(dt, MapType):
            return MapType(walk(dt.keyType), walk(dt.valueType),
                           dt.valueContainsNull)
        return dt

    return walk(schema)


def _identity_partition_map(meta: dict, schema_json: dict) -> dict:
    """source column name -> partition key name, for identity
    transforms of the table's partition specs."""
    by_id = {int(f["id"]): f for f in schema_json.get("fields") or []}
    specs = meta.get("partition-specs") or []
    if not specs and meta.get("partition-spec"):
        specs = [{"fields": meta["partition-spec"]}]
    out = {}
    for spec in specs:
        for pf in spec.get("fields") or []:
            if pf.get("transform") == "identity":
                src = by_id.get(pf.get("source-id"))
                if src is not None:
                    out[src["name"]] = pf.get("name", src["name"])
    return out


_FILL_TUPLE_CAP = 64        # non-hive layouts only: per-tuple literal
                            # fill builds an O(tuples) union plan


def _part_value_lit(v, dtype):
    """Typed literal for a manifest partition value.  Temporal values
    ride the spec's physical encodings (date = days-from-epoch int,
    timestamp[tz] = micros-from-epoch long) — decode them explicitly;
    Spark cannot cast INT to DATE."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    if v is None:
        return F.lit(None).cast(dtype)
    if isinstance(dtype, T.DateType):
        return F.date_from_unix_date(F.lit(int(v)))
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.timestamp_micros(F.lit(int(v))).cast(dtype)
    return F.lit(v).cast(dtype)


def _hive_part_value(raw: str, dtype):
    """Decode one hive ``col=value`` directory string into the
    manifest's PHYSICAL partition encoding (date = days-from-epoch,
    ints as int, …) so dir-derived and manifest values compare
    directly.  Raises on types/values it cannot decode — the caller
    treats that as 'cannot confirm' and falls back."""
    import datetime as _dt

    from pyspark.sql import types as T
    s = unquote(raw)
    if s == "__HIVE_DEFAULT_PARTITION__":
        return None
    if isinstance(dtype, T.StringType):
        return s
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                          T.LongType)):
        return int(s)
    if isinstance(dtype, T.BooleanType):
        v = s.lower()
        if v not in ("true", "false"):
            raise ValueError(f"not a boolean dir value: {s!r}")
        return v == "true"
    if isinstance(dtype, T.DateType):
        return (_dt.date.fromisoformat(s) - _dt.date(1970, 1, 1)).days
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(s)
    raise ValueError(f"undecodable hive partition type {dtype}")


def _is_hive_fill_layout(base, data, fill, mcols, parts,
                         types) -> bool:
    """True when every data file sits under hive ``col=value`` DIR
    segments beneath ``base`` for every fill column AND the
    dir-derived values AGREE with the manifest partition values — the
    single-basePath-scan precondition.  Spark's directory discovery
    becomes authoritative only after this cross-check; any file
    outside the base, a ``c=`` hit that is not a directory segment
    (e.g. a file NAME containing it), an ambiguous repeated segment,
    or a dir/manifest value mismatch falls back to the literal-fill
    path, which always uses the manifest values."""
    if not all(fill[c] == c for c in mcols):
        return False
    for fp, _seq in data:
        if not fp.startswith(base + "/"):
            return False
        rel = fp[len(base):]
        pv = parts.get(fp) or {}
        for c in mcols:
            hits = re.findall(
                rf"/{re.escape(c)}=([^/]*)(?=/)", rel)
            if len(set(hits)) != 1:
                return False
            try:
                got = _hive_part_value(hits[0], types[c])
            except Exception:
                return False
            want = pv.get(fill[c])
            if isinstance(got, float) or isinstance(want, float):
                if got is None or want is None or \
                        float(got) != float(want):
                    return False
            elif got != want:
                return False
    return True


def _missing_identity_columns(meta, schema_json, data, parts) -> dict:
    """Spec "Column Projection" rule 2: an identity-partitioned source
    column ABSENT from the data files (the hive-migration layout —
    signalled by the ``schema.name-mapping.default`` property) reads
    its value from partition metadata.  Returns {column: partition
    key}; {} when not applicable.  Footer checks are driver-side and
    only run for name-mapped tables; a MIXED layout (column present in
    some files, absent in others) refuses."""
    if not (meta.get("properties") or {}).get(
            "schema.name-mapping.default"):
        return {}
    ident = _identity_partition_map(meta, schema_json)
    if not ident:
        return {}
    try:
        import pyarrow.parquet as pq
        present: set | None = None
        for fp, _seq in data:
            sch = pq.ParquetFile(fp).schema_arrow
            names = set(sch.names)
            have = {c for c in ident if c in names}
            if present is None:
                present = have
            elif present != have:
                raise ValueError(
                    "iceberg: identity-partition columns present in "
                    "some data files but not others — refusing a "
                    "mixed hive-migration layout")
        missing = {c: k for c, k in ident.items()
                   if present is not None and c not in present}
        return missing
    except ValueError:
        raise
    except Exception:
        return {}     # unreadable footer: fall back to plain scan


def _spark_to_iceberg(dt, next_id):
    """Spark DataType → (Iceberg type JSON, ids consumed).  ``next_id``
    is a mutable one-element list used as an id allocator so nested
    element/key/value ids stay unique table-wide (spec: every field,
    list element, and map key/value has a table-unique id)."""
    from pyspark.sql import types as T
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id[0]
            next_id[0] += 1
            fields.append({"id": fid, "name": f.name,
                           "required": not f.nullable,
                           "type": None, "_spark": f.dataType})
        # children AFTER the parent's own ids (pre-order, like Iceberg)
        for fj in fields:
            fj["type"] = _spark_to_iceberg(fj.pop("_spark"), next_id)
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.ArrayType):
        eid = next_id[0]
        next_id[0] += 1
        return {"type": "list", "element-id": eid,
                "element": _spark_to_iceberg(dt.elementType, next_id),
                "element-required": not dt.containsNull}
    if isinstance(dt, T.MapType):
        kid, vid = next_id[0], next_id[0] + 1
        next_id[0] += 2
        return {"type": "map", "key-id": kid,
                "key": _spark_to_iceberg(dt.keyType, next_id),
                "value-id": vid,
                "value": _spark_to_iceberg(dt.valueType, next_id),
                "value-required": not dt.valueContainsNull}
    prim = {T.BooleanType: "boolean", T.IntegerType: "int",
            T.ShortType: "int", T.ByteType: "int", T.LongType: "long",
            T.FloatType: "float", T.DoubleType: "double",
            T.DateType: "date", T.StringType: "string",
            T.BinaryType: "binary", T.TimestampType: "timestamptz",
            T.TimestampNTZType: "timestamp"}
    if type(dt) in prim:
        return prim[type(dt)]
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    raise ValueError(f"iceberg export: unsupported Spark type {dt}")


def _table_schema_json(spark_schema) -> dict:
    next_id = [1]
    struct = _spark_to_iceberg(spark_schema, next_id)
    return {"type": "struct", "schema-id": 0,
            "fields": struct["fields"]}


# -------------------------------------------------------- avro schemas
# Spec "Manifests" / "Manifest Lists" — field ids are normative; only
# fields this exporter populates are declared (optional stats fields
# may be absent per spec; foreign manifests decode via their own
# embedded writer schema, so extra fields there cost nothing).

def _fs(name, typ, fid, optional=False):
    t = ["null", typ] if optional else typ
    f = {"name": name, "type": t, "field-id": fid}
    if optional:
        f["default"] = None
    return f


def _kvmap(name, fid, key_fid, val_fid, val_type):
    """An Iceberg int-keyed stats map in its Avro representation: an
    optional array of key/value records with ``logicalType: map`` (the
    spec's encoding for maps with non-string keys)."""
    return {"name": name, "field-id": fid, "default": None,
            "type": ["null", {
                "type": "array", "logicalType": "map",
                "items": {
                    "type": "record",
                    "name": f"k{key_fid}_v{val_fid}",
                    "fields": [
                        {"name": "key", "type": "int",
                         "field-id": key_fid},
                        {"name": "value", "type": val_type,
                         "field-id": val_fid}]}}]}


_MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        _fs("manifest_path", "string", 500),
        _fs("manifest_length", "long", 501),
        _fs("partition_spec_id", "int", 502),
        _fs("content", "int", 517),
        _fs("sequence_number", "long", 515),
        _fs("min_sequence_number", "long", 516),
        _fs("added_snapshot_id", "long", 503),
        _fs("added_files_count", "int", 504),
        _fs("existing_files_count", "int", 505),
        _fs("deleted_files_count", "int", 506),
        _fs("added_rows_count", "long", 512),
        _fs("existing_rows_count", "long", 513),
        _fs("deleted_rows_count", "long", 514),
        _fs("key_metadata", "bytes", 519, optional=True),
    ]}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        _fs("status", "int", 0),
        _fs("snapshot_id", "long", 1, optional=True),
        _fs("sequence_number", "long", 3, optional=True),
        _fs("file_sequence_number", "long", 4, optional=True),
        {"name": "data_file", "field-id": 2, "type": {
            "type": "record", "name": "r2", "fields": [
                _fs("content", "int", 134),
                _fs("file_path", "string", 100),
                _fs("file_format", "string", 101),
                {"name": "partition", "field-id": 102, "type": {
                    "type": "record", "name": "r102", "fields": []}},
                _fs("record_count", "long", 103),
                _fs("file_size_in_bytes", "long", 104),
                # per-file column stats (spec data_file fields; the
                # manifest-level skipping surface foreign planners —
                # and read_iceberg(where=) — prune with)
                _kvmap("value_counts", 109, 119, 120, "long"),
                _kvmap("null_value_counts", 110, 121, 122, "long"),
                _kvmap("lower_bounds", 125, 126, 127, "bytes"),
                _kvmap("upper_bounds", 128, 129, 130, "bytes"),
                {"name": "equality_ids", "field-id": 135,
                 "type": ["null", {"type": "array", "items": "int",
                                   "element-id": 136}],
                 "default": None},
            ]}},
    ]}


# --------------------------------------------------------------- reader

def _find_metadata(path: str) -> str:
    mdir = os.path.join(path, "metadata")
    hint = os.path.join(mdir, _HINT)
    if os.path.exists(hint):
        with open(hint) as fh:
            v = fh.read().strip()
        cand = os.path.join(mdir, f"v{v}.metadata.json")
        if os.path.exists(cand):
            return cand
    best, best_key = None, None
    for f in glob.glob(os.path.join(mdir, "*.metadata.json")):
        base = os.path.basename(f)
        m = re.match(r"v(\d+)\.metadata\.json$", base) or \
            re.match(r"(\d+)-[0-9a-f-]+(?:\.gz)?\.metadata\.json$", base)
        key = int(m.group(1)) if m else -1
        if best is None or key > best_key:
            best, best_key = f, key
    if best is None:
        raise ValueError(f"no Iceberg metadata found under {mdir}")
    return best


def _load_metadata(path: str) -> dict:
    with open(_find_metadata(path)) as fh:
        meta = json.load(fh)
    fv = meta.get("format-version", 1)
    if fv not in (1, 2):
        raise ValueError(f"iceberg format-version {fv} unsupported "
                         "(v1/v2 only) — refusing to misread")
    return meta


def _current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id", 0) == sid:
                return s
    if "schema" in meta:
        return meta["schema"]
    raise ValueError("iceberg metadata carries no schema")


def _schema_for_snapshot(meta: dict, snapshot: dict | None) -> dict:
    """The schema a snapshot's files were written under (spec: each
    snapshot records its ``schema-id``) — time travel across a schema
    evolution must bind field ids against THAT schema, not the current
    one."""
    if snapshot is not None and "schema-id" in snapshot \
            and "schemas" in meta:
        for s in meta["schemas"]:
            if s.get("schema-id", 0) == snapshot["schema-id"]:
                return s
    return _current_schema(meta)


def _pick_snapshot(meta: dict, snapshot_id=None, as_of_ms=None,
                   ref=None):
    snaps = meta.get("snapshots") or []
    if ref is not None:
        # named BRANCH/TAG refs (spec "refs" map) — how catalogs pin
        # audit tags and WAP branches; resolution is by snapshot id
        r = (meta.get("refs") or {}).get(ref)
        if r is None or "snapshot-id" not in r:
            known = sorted((meta.get("refs") or {}))
            raise ValueError(
                f"iceberg ref {ref!r} not found (refs: {known})")
        snapshot_id = r["snapshot-id"]
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(f"iceberg snapshot {snapshot_id} not found")
    if as_of_ms is not None:
        live = [s for s in snaps if s["timestamp-ms"] <= as_of_ms]
        if not live:
            return None
        return max(live, key=lambda s: s["timestamp-ms"])
    cur = meta.get("current-snapshot-id")
    if cur is None or cur == -1:
        return None
    for s in snaps:
        if s["snapshot-id"] == cur:
            return s
    raise ValueError(f"current-snapshot-id {cur} missing from snapshots")


def _kv_to_dict(v) -> dict:
    """A manifest stats map — Avro array-of-kv-records form or a plain
    dict — → ``{int field id: value}``; {} when absent/odd."""
    out: dict = {}
    if v is None:
        return out
    if isinstance(v, dict):
        items = v.items()
    else:
        items = ((e.get("key"), e.get("value")) for e in v
                 if isinstance(e, dict))
    for k, x in items:
        try:
            out[int(k)] = x
        except (TypeError, ValueError):
            continue
    return out


def _entry_stats(df_: dict):
    """One manifest data_file record → its skipping-relevant stats
    (id-keyed raw bounds + null counts + row count), or None."""
    lo = _kv_to_dict(df_.get("lower_bounds"))
    hi = _kv_to_dict(df_.get("upper_bounds"))
    nc = _kv_to_dict(df_.get("null_value_counts"))
    rc = df_.get("record_count")
    rows = int(rc) if isinstance(rc, int) and not isinstance(rc, bool) \
        else None
    if not (lo or hi or nc) and rows is None:
        return None
    return {"rows": rows, "lo": lo, "hi": hi, "nulls": nc}


def _scan_files(meta: dict, snapshot: dict, location: str,
                fspec_out: dict | None = None):
    """Walk manifest-list → manifests.  Returns
    ``(data_files, pos_delete_files, eq_delete_files, parts, fstats)``
    where each data file is ``(norm_path, data_seq)``, each
    position-delete file ``(norm_path, delete_seq)``, each
    equality-delete file ``(norm_path, delete_seq, [equality field
    ids])``, ``parts`` maps data file → partition struct and
    ``fstats`` maps data file → its manifest column stats.
    ``fspec_out`` (r17) collects each data file's owning manifest
    PARTITION-SPEC-ID — the per-file spec binding partition
    evolution relies on."""
    fv = meta.get("format-version", 1)

    def _abs(p):
        p = _norm_path(p)
        if not os.path.isabs(p):
            p = os.path.join(_norm_path(location), p)
        return p

    if snapshot.get("manifest-list"):
        _, mlist = read_container_file(_abs(snapshot["manifest-list"]))
    else:
        # ancient v1 form: manifests listed inline on the snapshot
        mlist = [{"manifest_path": p, "sequence_number": 0, "content": 0}
                 for p in snapshot.get("manifests", [])]

    data, pos_del, eq_del = [], [], []
    parts: dict[str, dict] = {}
    fstats: dict[str, dict] = {}
    for m in mlist:
        mseq = m.get("sequence_number") or 0
        _, entries = read_container_file(_abs(m["manifest_path"]))
        for e in entries:
            if e.get("status") == 2:      # DELETED — not live
                continue
            df_ = e["data_file"]
            seq = e.get("sequence_number")
            if seq is None:
                # v2 inheritance: ADDED entries inherit the manifest's
                # sequence number; EXISTING must carry their own (a
                # writer that omits it is out of spec — inherit is the
                # only sound fallback and matches reference readers)
                seq = mseq if fv >= 2 else 0
            content = df_.get("content", 0)
            fpath = _abs(df_["file_path"])
            fmt = (df_.get("file_format") or "PARQUET").upper()
            if fmt != "PARQUET":
                raise ValueError(
                    f"iceberg data file format {fmt!r} unsupported "
                    "(PARQUET only)")
            if content == 0:
                data.append((fpath, seq))
                parts[fpath] = dict(df_.get("partition") or {})
                if fspec_out is not None:
                    fspec_out[fpath] = int(
                        m.get("partition_spec_id") or 0)
                st = _entry_stats(df_)
                if st is not None:
                    fstats[fpath] = st
            elif content == 1:
                pos_del.append((fpath, seq))
            elif content == 2:
                eq_del.append((fpath, seq,
                               list(df_.get("equality_ids") or [])))
            else:
                raise ValueError(f"iceberg data_file content {content} "
                                 "unknown")
    # a live file must appear once per snapshot; exact duplicates
    # (e.g. a rewritten manifest replaying EXISTING entries) dedup,
    # conflicting sequence numbers refuse — reading twice or with the
    # wrong delete scope would both return wrong rows
    seen: dict[str, int] = {}
    deduped = []
    for fp, seq in data:
        if fp in seen:
            if seen[fp] != seq:
                raise ValueError(
                    f"iceberg data file {fp} listed with conflicting "
                    f"sequence numbers {seen[fp]} and {seq}")
            continue
        seen[fp] = seq
        deduped.append((fp, seq))
    return deduped, pos_del, eq_del, parts, fstats


def _prune_partitions(meta: dict, schema_json: dict, data: list,
                      parts: dict, partition_filter: dict) -> list:
    """Manifest-level file pruning for identity-transform partition
    fields (spec "Scan Planning"): a data file whose recorded
    partition value differs from the filter's value cannot contain a
    matching row.  Conservative everywhere else: non-identity
    transforms, unknown columns, and missing partition values all KEEP
    the file — pruning may only ever narrow the file list, never the
    result (the caller re-applies the predicate to rows)."""
    name_to_id = {f["name"]: f["id"] for f in schema_json["fields"]}
    specs = meta.get("partition-specs") or []
    if not specs and meta.get("partition-spec"):
        specs = [{"fields": meta["partition-spec"]}]
    # filter column -> the identity partition field's NAME (the key
    # its values carry in each manifest entry's partition struct)
    keys: dict[str, str] = {}
    for col in partition_filter:
        fid = name_to_id.get(col)
        if fid is None:
            continue
        for spec in specs:
            for pf in spec.get("fields") or []:
                if pf.get("transform") == "identity" \
                        and pf.get("source-id") == fid:
                    keys[col] = pf.get("name", col)
    if not keys:
        return data
    out = []
    for fp, seq in data:
        pv = parts.get(fp) or {}
        keep = True
        for col, want in partition_filter.items():
            k = keys.get(col)
            if k is None or k not in pv:
                continue
            got = pv[k]
            if got != want and str(got) != str(want):
                keep = False
                break
        if keep:
            out.append((fp, seq))
    return out


def _prune_by_stats(meta: dict, schema_json: dict, data: list,
                    parts: dict, fstats: dict, node) -> list:
    """Manifest-level value skipping for ``read_iceberg(where=)``:
    build a plans.skipping summary per data file from its manifest
    stats maps (lower/upper bounds Appendix-D decoded, null counts,
    record count) plus identity-transform partition values (min=max=
    the recorded value), and drop files the predicate refutes via the
    same conservative ``node_may_match`` as the store's own manifest
    skipping and read_delta's add-stats pruning.  Undecidable anywhere
    keeps the file; the caller re-applies the predicate to rows, so
    pruning can only narrow the scan, never the result.

    Non-identity partition TRANSFORMS (bucket[N] via the spec's
    Murmur3-x86-32, truncate[W], year/month/day/hour) also prune:
    equality/IN against any transform, ranges against the monotone
    ones (plans/iceberg_transforms.leaf_keeps)."""
    from tostore_spark.plans.iceberg_transforms import (leaf_keeps,
                                                        parse_transform)
    from tostore_spark.plans.skipping import _leaf_may_match
    by_id = {int(f["id"]): f for f in schema_json.get("fields") or []}
    ident: dict[str, str] = {}
    # source column -> [(transform name, param, iceberg type,
    #                    partition key)] for non-identity transforms
    tmap: dict[str, list] = {}
    specs = meta.get("partition-specs") or []
    if not specs and meta.get("partition-spec"):
        specs = [{"fields": meta["partition-spec"]}]
    for spec in specs:
        for pf in spec.get("fields") or []:
            src = by_id.get(pf.get("source-id"))
            if src is None:
                continue
            if pf.get("transform") == "identity":
                ident[src["name"]] = pf.get("name", src["name"])
                continue
            parsed = parse_transform(pf.get("transform"))
            if parsed is not None:
                tmap.setdefault(src["name"], []).append(
                    (parsed[0], parsed[1], src.get("type"),
                     pf.get("name")))

    def _keeps(n, summary, pv) -> bool:
        # node_may_match's and/or fold, with a per-leaf transform
        # check layered on the stats refutation
        if n.kind == "and":
            return all(_keeps(c, summary, pv) for c in n.children) \
                if n.children else True
        if n.kind != "leaf":
            return any(_keeps(c, summary, pv) for c in n.children) \
                if n.children else True
        try:
            if not _leaf_may_match(n.field, n.op, n.value, summary, ""):
                return False
            for name, param, ice_type, key in tmap.get(n.field, ()):
                if key not in pv:
                    continue
                if not leaf_keeps(name, param, ice_type, pv[key],
                                  n.op, n.value):
                    return False
        except Exception:
            return True
        return True

    out = []
    for fp, seq in data:
        st = fstats.get(fp) or {}
        rows = st.get("rows")
        cols: dict = {}
        for fid, lb in (st.get("lo") or {}).items():
            f = by_id.get(fid)
            if f is None:
                continue
            mn = _deser_bound(f.get("type"), lb)
            mx = _deser_bound(f.get("type"),
                              (st.get("hi") or {}).get(fid))
            if mn is None or mx is None:
                continue
            nl = (st.get("nulls") or {}).get(fid)
            cols[f["name"]] = {
                "min": mn, "max": mx,
                "nulls": int(nl) if isinstance(nl, int)
                and not isinstance(nl, bool) else None}
        for fid, nl in (st.get("nulls") or {}).items():
            f = by_id.get(fid)
            if f is None or f["name"] in cols:
                continue
            if isinstance(nl, int) and not isinstance(nl, bool) \
                    and rows is not None and nl >= rows:
                # all-null column: exactly representable without bounds
                cols[f["name"]] = {"min": None, "max": None,
                                   "nulls": int(nl)}
        pv = parts.get(fp) or {}
        for col, key in ident.items():
            if col in cols or key not in pv:
                continue
            v = pv[key]
            if v is None:
                if rows is not None:
                    cols[col] = {"min": None, "max": None,
                                 "nulls": rows}
            elif isinstance(v, (bool, int, float, str)):
                cols[col] = {"min": v, "max": v, "nulls": 0}
        if (cols or (tmap and pv)) and not _keeps(
                node, {"rows": rows, "cols": cols}, pv):
            continue
        out.append((fp, seq))
    return out


def read_iceberg(spark, path: str, snapshot_id: int | None = None,
                 as_of_ms: int | None = None,
                 partition_filter: dict | None = None,
                 where=None, ref: str | None = None):
    """Read an Iceberg v1/v2 table at ``path`` (filesystem layout:
    ``metadata/`` + data files).  ``snapshot_id`` / ``as_of_ms`` /
    ``ref`` (named branch/tag) time-travel.  v2 merge-on-read
    position and equality deletes are applied with the spec's
    sequence-number scoping; columns resolve by field id — or BY NAME
    through a validated ``schema.name-mapping.default`` for tables
    whose data files carry no ids (hive migrations), with absent
    identity-partition source columns filled from partition metadata
    (Column Projection rule 2).

    ``partition_filter`` ({source column: value}, equality only)
    prunes data files at the MANIFEST level before Spark ever lists
    them — the Iceberg scan-planning win: only identity-transform
    partition fields prune (bucket/truncate/time transforms
    conservatively keep the file), missing values keep the file, and
    the same predicate re-applies to the surviving rows so a sloppy
    foreign manifest can never widen the result.

    ``where`` (dict / QueryCondition / ConditionNode — the engine's
    predicate language) is the general scan-planning surface: data
    files whose manifest COLUMN BOUNDS (lower_bounds/upper_bounds/
    null_value_counts, Appendix-D decoded) or identity partition
    values refute the predicate are pruned before Spark lists them,
    and the predicate re-applies to the surviving rows with the
    engine's two-valued semantics."""
    from pyspark.sql import functions as F

    p = _norm_path(path)
    meta = _load_metadata(p)
    snapshot = _pick_snapshot(meta, snapshot_id, as_of_ms, ref=ref)
    # spec scan rule: a CURRENT read projects the table's CURRENT
    # schema (a metadata-only evolution — e.g. a rename — changes the
    # schema without a new snapshot); TIME TRAVEL binds the target
    # snapshot's own schema-id so old reads keep old names/shape
    if snapshot_id is None and as_of_ms is None and ref is None:
        schema_json = _current_schema(meta)
    else:
        schema_json = _schema_for_snapshot(meta, snapshot)
    sschema = _schema_to_spark(schema_json)
    node = None
    if where is not None:
        from tostore_spark.compile import coerce_where_values
        from tostore_spark.condition import to_condition_node
        node = to_condition_node(where)
        if node is not None and node.is_empty():
            node = None
        if node is not None:
            node = coerce_where_values(node, sschema)
    if snapshot is None:
        return local_df(spark, [], sschema)
    location = meta.get("location") or p
    fspec: dict = {}
    data, pos_del, eq_del, parts, fstats = _scan_files(
        meta, snapshot, location, fspec_out=fspec)
    if partition_filter:
        data = _prune_partitions(meta, schema_json, data, parts,
                                 partition_filter)
    if node is not None:
        data = _prune_by_stats(meta, schema_json, data, parts,
                               fstats, node)
    if not data:
        return local_df(spark, [], sschema)

    def _refilter(out):
        # re-apply the predicates to ROWS: manifest pruning may only
        # narrow the file list, never define the result
        names = {f.name for f in sschema.fields}
        for col, want in (partition_filter or {}).items():
            if col in names:
                out = out.filter(F.col(col) == F.lit(want))
        if node is not None:
            from tostore_spark.compile import where_filter_column
            out = out.filter(where_filter_column(node, out.schema))
        return out

    # name-mapped tables (spec ``schema.name-mapping.default`` — the
    # hive-migration signature): data files carry NO field ids, so
    # columns resolve BY NAME; the mapping must agree that each
    # current column name is a mapped name (a silent mismatch would
    # read nulls)
    nm_prop = (meta.get("properties") or {}).get(
        "schema.name-mapping.default")
    read_schema = sschema
    nm_renames: dict = {}           # file (physical) name -> schema name
    if nm_prop:
        try:
            nm = {int(e["field-id"]): list(e.get("names") or [])
                  for e in json.loads(nm_prop) if "field-id" in e}
        except Exception as exc:
            raise ValueError(
                f"unparseable schema.name-mapping.default: {exc}")
        from pyspark.sql.types import StructField, StructType
        rfields = []
        for f, sf in zip(schema_json["fields"], sschema.fields):
            names = nm.get(int(f["id"]))
            if names is None or f["name"] in names:
                # unmapped, or the schema name IS a mapped name:
                # resolve by the schema name (the convert-time shape)
                rfields.append(sf)
            elif len(names) == 1:
                # RENAMED field (r17): the files keep the mapped
                # PHYSICAL column name — read by it, surface under
                # the schema name
                rfields.append(StructField(names[0], sf.dataType,
                                           sf.nullable))
                nm_renames[names[0]] = f["name"]
            else:
                raise ValueError(
                    f"name mapping for field id {f['id']} maps "
                    f"{names} but the schema calls it {f['name']!r} — "
                    "ambiguous multi-name mapping; name-based "
                    "resolution could read the wrong column")
        if nm_renames and data:
            # loud-refusal guard: a CORRUPT mapping (pointing at a
            # column the files never had) must not silently null-fill
            # — one footer probe verifies every renamed physical name
            # exists (physical names are stable across generations,
            # so sampling one file is the O(1) check)
            import pyarrow.parquet as pq
            have = set(pq.read_schema(
                sorted(fp for fp, _s in data)[0]).names)
            missing = sorted(set(nm_renames) - have)
            if missing:
                raise ValueError(
                    f"name mapping names {missing} exist in no data "
                    "file column — name-based resolution would read "
                    "the wrong column (or none); fix the mapping or "
                    "rewrite the table")
        read_schema = _strip_field_ids(StructType(rfields))

    # Column Projection rule 2: identity-partition source columns
    # absent from the (hive-migrated) data files fill from partition
    # metadata

    def _fill_read(sub, fill_g):
        """Per-partition-tuple literal fill over ``sub``'s files
        (manifest values are authoritative).  An empty ``fill_g``
        degenerates to one plain read — used for spec groups whose
        files carry every identity source."""
        from pyspark.sql.types import StructType
        mcols = sorted(fill_g)
        dschema = StructType([f for f in read_schema.fields
                              if f.name not in fill_g])
        types = {f.name: f.dataType for f in sschema.fields}
        by_pv: dict = {}
        for fp, _seq in sub:
            pv = tuple((parts.get(fp) or {}).get(fill_g[c])
                       for c in mcols)
            by_pv.setdefault(pv, []).append(fp)
        if len(by_pv) > _FILL_TUPLE_CAP:
            raise ValueError(
                f"identity-partition fill over {len(by_pv)} partition "
                f"tuples on a non-hive layout exceeds the "
                f"{_FILL_TUPLE_CAP}-tuple plan cap — rewrite the "
                "table (rewrite_data_files) or use a hive k=v layout")
        out = None
        for pv, fps in sorted(by_pv.items(),
                              key=lambda kv: tuple(str(x)
                                                   for x in kv[0])):
            part = spark.read.schema(dschema).parquet(*sorted(fps))
            for c, v in zip(mcols, pv):
                part = part.withColumn(c, _part_value_lit(v, types[c]))
            part = part.select(*[f.name for f in sschema.fields])
            out = part if out is None else out.unionByName(part)
        return out

    try:
        fill = _missing_identity_columns(meta, schema_json, data, parts)
        fill_groups = None
    except ValueError:
        # a MIXED layout is legitimate across PARTITION EVOLUTION —
        # each spec's files miss exactly ITS identity sources (r17):
        # group by the owning manifest's spec-id and fill PER SPEC;
        # a group that is itself mixed re-raises (a truly corrupt
        # layout must stay loud)
        groups: dict = {}
        for fp, seq in data:
            groups.setdefault(fspec.get(fp, 0), []).append((fp, seq))
        if len(groups) <= 1:
            raise
        fill, fill_groups = {}, []
        for _sid, sub in sorted(groups.items()):
            fill_groups.append((sub, _missing_identity_columns(
                meta, schema_json, sub, parts)))
    if fill or fill_groups:
        if pos_del or eq_del:
            raise ValueError(
                "identity-partition fill under merge-on-read deletes "
                "is not supported")
        if nm_renames:
            raise ValueError(
                "identity-partition fill on a RENAMED name-mapped "
                "table is not supported — rewrite the table "
                "(rewrite_data_files) first")
        if fill_groups is not None:
            out = None
            for sub, f_g in fill_groups:
                part = _fill_read(sub, f_g)
                out = part if out is None else out.unionByName(part)
            return _refilter(out)
        from pyspark.sql.types import StructType
        mcols = sorted(fill)
        dschema = StructType([f for f in read_schema.fields
                              if f.name not in fill])
        types = {f.name: f.dataType for f in sschema.fields}
        # hive k=v layout (the common migration shape): ONE discovery
        # scan under basePath — the plan stays O(1) in partition-tuple
        # count; Spark parses the dir values into the declared types.
        base = _norm_path(location).rstrip("/")
        if _is_hive_fill_layout(base, data, fill, mcols, parts,
                                types):
            disc = StructType(list(dschema.fields)
                              + [sschema[c] for c in mcols])
            df = (spark.read.schema(disc)
                  .option("basePath", base)
                  .parquet(*sorted(fp for fp, _seq in data))
                  .select(*[f.name for f in sschema.fields]))
            return _refilter(df)
        return _refilter(_fill_read(data, fill))

    # field-id resolution (same mechanism as Delta 'id'-mode column
    # mapping): the read schema carries parquet.field.id metadata
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    paths = [fp for fp, _ in data]
    if len(meta.get("schemas") or []) > 1:
        # additive evolution: files older than a column lack its
        # field id — the spec projection rule reads them as NULL.
        # Gated on multi-schema so a single-schema table with id-less
        # files (a spec violation) still fails loudly.  The returned
        # frame is LAZY, so this conf cannot be restored here (the
        # _conf_pins discipline is eager-only) — the single-schema
        # loud gate below therefore never trusts the conf's state.
        spark.conf.set(
            "spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    elif paths and not nm_prop and spark.conf.get(
            "spark.sql.parquet.fieldId.read.ignoreMissing",
            "false") == "true":
        # (name-mapped tables legitimately carry id-less files and
        # resolve by name — the gate applies to FIELD-ID reads only)
        # an earlier multi-schema read left ignoreMissing=true for the
        # session; without this gate a single-schema table whose files
        # carry NO field ids (a spec violation) would silently
        # null-fill instead of failing loudly.  One driver-side footer
        # probe re-asserts the documented failure (id-less migrations
        # are all-files-or-none in practice — sampling one is the
        # O(1) check)
        import pyarrow.parquet as pq
        sch = pq.read_schema(paths[0])
        if not any((sch.field(i).metadata or {})
                   .get(b"PARQUET:field_id")
                   for i in range(len(sch.names))):
            raise ValueError(
                f"iceberg data file {paths[0]} carries no parquet "
                "field ids — field-id resolution would null-fill "
                "every column; add a name-mapping "
                "(schema.name-mapping.default) or rewrite the files")
    df = spark.read.schema(read_schema).parquet(*paths)
    for phys, logical in nm_renames.items():
        # renamed name-mapped fields read under their stable PHYSICAL
        # column name and surface under the schema name (projection
        # only — ``_metadata`` stays resolvable for the MoR fold)
        df = df.withColumnRenamed(phys, logical)

    if not pos_del and not eq_del:
        return _refilter(df)

    # delete application needs each row's (file, position, data_seq)
    seq_rows = [(fp, int(seq)) for fp, seq in data]
    seq_df = local_df(spark, seq_rows,
                                   "__ice_file string, __ice_dseq long")
    df = df.withColumn(
        "__ice_file",
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/")
    ).withColumn("__ice_pos", F.col("_metadata.row_index"))
    df = df.join(seq_df, on="__ice_file", how="left")

    def _group_by_seq(files):
        grouped: dict[int, list] = {}
        for fp, dseq, *rest in files:
            grouped.setdefault(int(dseq), []).append((fp, *rest))
        return grouped

    if pos_del:
        # spec position-delete schema: file_path (id 2147483546),
        # pos (id 2147483545) — fixed names; equal-seq delete files
        # share ONE scan so the plan stays O(distinct seqs), not
        # O(delete files)
        dels = None
        for dseq, fps in _group_by_seq(pos_del).items():
            d = (spark.read.parquet(*[fp for (fp,) in fps])
                 .select(F.regexp_replace("file_path", "^file:/*", "/")
                         .alias("__ice_file"),
                         F.col("pos").cast("long").alias("__ice_pos"),
                         F.lit(int(dseq)).alias("__del_seq")))
            dels = d if dels is None else dels.unionByName(d)
        df = df.join(
            dels,
            on=[df["__ice_file"] == dels["__ice_file"],
                df["__ice_pos"] == dels["__ice_pos"],
                dels["__del_seq"] >= df["__ice_dseq"]],
            how="left_anti")

    if eq_del:
        id_to_name = {f["id"]: f["name"] for f in schema_json["fields"]}
        by_ids: dict[tuple, list] = {}
        for fp, dseq, ids in eq_del:
            if not ids:
                raise ValueError("iceberg equality-delete file without "
                                 "equality_ids — refusing to guess")
            by_ids.setdefault(tuple(sorted(ids)), []).append((fp, dseq))
        sfields = {f.name: f for f in sschema.fields}
        for ids, files in by_ids.items():
            cols = []
            for i in ids:
                if i not in id_to_name:
                    raise ValueError(f"iceberg equality_id {i} not in "
                                     "current schema")
                cols.append(id_to_name[i])
            # field-id read schema: delete rows bind to the CURRENT
            # column names even if the delete file predates a rename
            from pyspark.sql.types import StructType
            dschema = StructType([sfields[c] for c in cols])
            dels = None
            for dseq, fps in _group_by_seq(files).items():
                d = (spark.read.schema(dschema)
                     .parquet(*[fp for (fp,) in fps])
                     .select(*[F.col(c).alias(f"__eq_{c}") for c in cols],
                             F.lit(int(dseq)).alias("__del_seq")))
                dels = d if dels is None else dels.unionByName(d)
            cond = [df[c].eqNullSafe(dels[f"__eq_{c}"]) for c in cols]
            # equality deletes hit STRICTLY OLDER data files only
            cond.append(dels["__del_seq"] > df["__ice_dseq"])
            df = df.join(dels, on=cond, how="left_anti")

    return _refilter(df.select(*[f.name for f in sschema.fields]))


# -------------------------------------------------------------- exporter

def _write_metadata_json(mdir: str, version: int, meta: dict) -> None:
    os.makedirs(mdir, exist_ok=True)
    target = os.path.join(mdir, f"v{version}.metadata.json")
    tmp = target + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
    try:
        # atomic put-if-absent — same concurrency primitive as the
        # Delta exporter's commit claim (os.link fails on EEXIST)
        os.link(tmp, target)
    except FileExistsError:
        raise ValueError(
            f"iceberg metadata v{version} already exists at {target} — "
            "a concurrent writer won this version") from None
    except OSError:
        if os.path.exists(target):
            raise ValueError(
                f"iceberg metadata v{version} already exists at "
                f"{target} — a concurrent writer won this version"
            ) from None
        os.replace(tmp, target)
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass
    hint_tmp = os.path.join(mdir, _HINT + f".tmp-{uuid.uuid4().hex}")
    with open(hint_tmp, "w") as fh:
        fh.write(str(version))
    os.replace(hint_tmp, os.path.join(mdir, _HINT))


def _stage_iceberg_data(df, dest: str, target_files=None,
                        id_of: dict | None = None,
                        cluster_by: list | None = None,
                        partition_by: list | None = None,
                        pvals_out: dict | None = None) -> list:
    """Write ``df`` under ``dest/data/`` with parquet field ids (so
    foreign Iceberg readers resolve columns by id, the spec contract).
    ``id_of`` overrides the column→field-id map — delete files must
    carry the TABLE's ids, not a fresh numbering.
    Returns ``[(abs_path, rows, bytes)]``.

    ``partition_by`` (r17): each staged file holds exactly ONE
    partition tuple (the Iceberg data-file contract) — the write
    partitions on COPY columns so the originals stay IN the files
    (Iceberg data files carry partition source columns, unlike hive
    layout), and ``pvals_out`` receives each file's RAW directory
    partition values ({abs_path: {col: str|None}}) for the manifest."""
    import pyarrow.parquet as pq

    spark = df.sparkSession
    # attach parquet.field.id to every top-level column
    # (DataFrame.withMetadata — df.to() would DROP metadata); nested
    # struct ids ride _spark_to_iceberg's numbering
    if id_of is None:
        schema_json = _table_schema_json(df.schema)
        id_of = {f["name"]: f["id"] for f in schema_json["fields"]}
    # spec: field ids in footers, timestamps as int64 micros (never
    # legacy INT96, which also carries no footer stats) — pin both
    # even when the session was built outside get_spark, and RESTORE
    # after staging so a caller-owned session keeps its settings
    _pins = {"spark.sql.parquet.fieldId.write.enabled": "true",
             "spark.sql.parquet.outputTimestampType":
             "TIMESTAMP_MICROS"}
    _olds = {k: spark.conf.get(k, None) for k in _pins}
    for k, v in _pins.items():
        spark.conf.set(k, v)
    tagged = df
    for f in df.schema.fields:
        tagged = tagged.withMetadata(
            f.name, {"parquet.field.id": id_of[f.name]})
    cl = [c for c in (cluster_by or []) if c in tagged.columns]
    if cl and not partition_by:
        # range-cluster so per-file manifest bounds become disjoint —
        # the writer-side knob that makes bounds skipping bite
        tagged = (tagged.repartitionByRange(int(target_files), *cl)
                  if target_files else tagged.repartitionByRange(*cl)
                  ).sortWithinPartitions(*cl)
        target_files = None
    if target_files:
        tagged = tagged.coalesce(int(target_files))
    ddir = os.path.join(dest, "data")
    staging = os.path.join(dest, f".staging-{uuid.uuid4().hex}")
    pby = [c for c in (partition_by or []) if c in tagged.columns]
    shadow = {c: f"__ice_part_{c}" for c in pby}
    try:
        writer = tagged
        if pby:
            for c, sc in shadow.items():
                from pyspark.sql import functions as F
                writer = writer.withColumn(sc, F.col(c))
            writer.write.mode("overwrite") \
                .partitionBy(*shadow.values()).parquet(staging)
        else:
            writer.write.mode("overwrite").parquet(staging)
    finally:
        for k, old in _olds.items():
            spark.conf.set(k, old) if old is not None \
                else spark.conf.unset(k)
    os.makedirs(ddir, exist_ok=True)
    out = []
    for dirpath, dirs, names in os.walk(staging):
        # keep hive `k=v` dirs (the shadow partition columns start
        # with "__"), prune Spark's _SUCCESS/_temporary noise
        dirs[:] = [d for d in dirs
                   if "=" in d or not d.startswith(("_", "."))]
        relroot = os.path.relpath(dirpath, staging)
        raw_pv: dict = {}
        if relroot != ".":
            for seg in relroot.split(os.sep):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    v = unquote(v)
                    # shadow column dir → source column key
                    k = k[len("__ice_part_"):] \
                        if k.startswith("__ice_part_") else k
                    raw_pv[k] = (None
                                 if v == "__HIVE_DEFAULT_PARTITION__"
                                 else v)
        for f in sorted(names):
            if not f.endswith(".parquet"):
                continue
            src = os.path.join(dirpath, f)
            dst = os.path.join(ddir, f"{uuid.uuid4().hex}-{f}")
            os.replace(src, dst)
            rows = pq.ParquetFile(dst).metadata.num_rows
            out.append((dst, int(rows), os.path.getsize(dst)))
            if pvals_out is not None and raw_pv:
                pvals_out[dst] = dict(raw_pv)
    shutil.rmtree(staging, ignore_errors=True)
    return out


def export_iceberg(engine, table: str, dest: str, mode: str = "error",
                   target_files: int | None = None,
                   allow_decrypted: bool = False,
                   cluster_by: list | None = None,
                   delete_route: str = "auto") -> dict:
    """Export ``table`` as an Iceberg v2 table at ``dest``.

    ``mode``: ``"error"`` (refuse non-empty dest), ``"overwrite"``
    (fresh table, snapshot 1), ``"append"`` (add the CURRENT store
    frame as a new snapshot appending to the existing table — the
    caller owns the no-duplicates contract, exactly like a foreign
    engine's append), ``"update"`` (commit the NEXT snapshot
    incrementally: when the store recipe extended by pure appends
    since the last export, the snapshot adds ONLY the delta rows;
    appends+deletes commit as MERGE-ON-READ position-delete files —
    exporting a 100-row delete from a 100 TB table costs the key
    probe + one tiny delete file; anything else falls back to an
    overwrite snapshot — every prior snapshot keeps time-traveling).
    Unpartitioned spec (partition layout is an
    Iceberg performance feature, not semantics — the store's partition
    columns are ordinary data columns here).  Returns ``{"path",
    "snapshot_id", "sequence_number", "files", "rows", "commit"}``."""
    if mode not in ("error", "overwrite", "append", "update"):
        raise ValueError(f"unknown export_iceberg mode {mode!r}")
    refuse_declassify(engine, table, "export_iceberg", allow_decrypted)
    path = _norm_path(dest)
    mdir = os.path.join(path, "metadata")
    exists = os.path.isdir(mdir) and any(
        f.endswith(".metadata.json") for f in os.listdir(mdir))
    if os.path.exists(path) and os.listdir(path):
        if mode == "error":
            raise ValueError(
                f"export_iceberg destination {dest} exists; pass "
                "mode='overwrite' or mode='append'")
        if mode == "overwrite":
            shutil.rmtree(path)
            exists = False
    if mode == "update" and exists:
        rep = _export_iceberg_update(engine, table, path, target_files,
                                     cluster_by=cluster_by,
                                     delete_route=delete_route)
    else:
        df = engine.df(table)
        pby = list(engine._tables[engine._resolve(table)]
                   .get("partition_by") or [])
        os.makedirs(path, exist_ok=True)
        # append and update on a fresh dest are its first export
        append = mode == "append" and exists
        meta = (_load_metadata(path) if append
                else _fresh_meta(path, df.schema))
        spec, _pval = _ensure_identity_spec(meta, pby, df.schema)
        raw_pv: dict = {}
        staged = _stage_iceberg_data(df, path, target_files,
                                     cluster_by=cluster_by,
                                     partition_by=pby, pvals_out=raw_pv)
        rep = _commit_snapshot(path, meta, staged, None,
                               keep_prior=append, operation="append",
                               spec=spec,
                               pvals_of=_typed_pvals(raw_pv, spec, _pval))
        rep["commit"] = "append-frame" if append else "snapshot"
    if rep["commit"] != "noop":
        write_state(engine, table, path, _ICE_STATE,
                    snapshot_id=rep["snapshot_id"])
    rep["path"] = dest
    return rep


def _ensure_identity_spec(meta: dict, pby: list, spark_schema):
    """Resolve (and, on PARTITION EVOLUTION, append) the identity
    partition spec for a partitioned export (r17 order #3).

    Returns ``((spec_id, spec_fields, part_avro), _pval)`` — or
    ``(None, None)`` for an unpartitioned table.  When the table's
    current default spec already identity-partitions on exactly
    ``pby`` (matched by source-id), it is REUSED with its original
    partition field-ids; otherwise a NEW spec-id is appended and made
    the default — a METADATA-ONLY change (each manifest carries its
    own spec-id, so files written under prior specs keep pruning
    under them; the spec's own evolution rule).  Spec-id 0 always
    stays the unpartitioned spec — delete manifests bind it so a
    position-delete file spanning partitions is never mis-pruned."""
    if not pby:
        return None, None
    schema_json = _current_schema(meta)
    specs = list(meta.get("partition-specs")
                 or [{"spec-id": 0, "fields": []}])
    by_id = {int(s.get("spec-id", 0)): s for s in specs}
    cur = by_id.get(int(meta.get("default-spec-id", 0)), specs[0])
    id_by_name = {f["name"]: int(f["id"])
                  for f in schema_json["fields"]}
    spec_fields, part_avro, _pval = _convert_identity_spec(
        pby, schema_json, spark_schema)
    want_src = [id_by_name[c] for c in pby]
    cur_fields = list(cur.get("fields") or [])
    have_src = [pf.get("source-id") for pf in cur_fields
                if pf.get("transform") == "identity"]
    if want_src == have_src and len(have_src) == len(cur_fields):
        # same identity spec — reuse its id and partition field-ids
        fid_of = {int(pf["source-id"]): int(pf["field-id"])
                  for pf in cur_fields}
        for sf, pa_ in zip(spec_fields, part_avro):
            sf["field-id"] = fid_of[int(sf["source-id"])]
            pa_["field-id"] = sf["field-id"]
        return (int(cur.get("spec-id", 0)), spec_fields,
                part_avro), _pval
    # EVOLUTION: new spec-id, fresh partition field-ids
    next_fid = max(
        [int(meta.get("last-partition-id", 999))]
        + [int(pf.get("field-id", 999)) for s in specs
           for pf in (s.get("fields") or [])]) + 1
    for i, (sf, pa_) in enumerate(zip(spec_fields, part_avro)):
        sf["field-id"] = next_fid + i
        pa_["field-id"] = next_fid + i
    sid = max(int(s.get("spec-id", 0)) for s in specs) + 1
    meta["partition-specs"] = specs + [{"spec-id": sid,
                                        "fields": spec_fields}]
    meta["default-spec-id"] = sid
    meta["last-partition-id"] = next_fid + len(pby) - 1
    return (sid, spec_fields, part_avro), _pval


def _spec_tools(meta: dict, spec_id: int, schema_json: dict,
                sschema):
    """(spec tuple for ``_manifest``/``_commit_snapshot``, value
    decoder) for an EXISTING spec-id — identity specs only, with the
    spec's ORIGINAL partition field-ids preserved.  (None, None) for
    the unpartitioned spec."""
    sp = next((s for s in meta.get("partition-specs") or []
               if int(s.get("spec-id", 0)) == int(spec_id)), None)
    fields_s = (sp or {}).get("fields") or []
    if not fields_s:
        return None, None
    by_fid = {int(f["id"]): f for f in schema_json["fields"]}
    pcols_s = [by_fid[int(pf["source-id"])]["name"]
               for pf in fields_s]
    sf, pa, pv = _convert_identity_spec(pcols_s, schema_json,
                                        _strip_field_ids(sschema))
    for sf_f, pa_f, pf in zip(sf, pa, fields_s):
        sf_f["field-id"] = int(pf.get("field-id", sf_f["field-id"]))
        pa_f["field-id"] = sf_f["field-id"]
    return (int(spec_id), sf, pa), pv


def _typed_pvals(raw_pv: dict, spec, _pval) -> dict:
    """{abs_path: raw dir strings} → {abs_path: typed values} for the
    manifest partition struct."""
    if spec is None:
        return {}
    names = [f["name"] for f in spec[1]]
    return {fp: {c: _pval(c, rv.get(c)) for c in names}
            for fp, rv in raw_pv.items()}


def _fresh_meta(path: str, spark_schema) -> dict:
    schema_json = _table_schema_json(spark_schema)
    return {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": path,
        "last-sequence-number": 0,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": _max_field_id(schema_json),
        "current-schema-id": 0,
        "schemas": [schema_json],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"write.format.default": "parquet"},
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }


# -------------------------------------------- per-file column stats
# Spec "Appendix D: Single-value serialization": manifest bound maps
# carry one binary value per field id.  Only the types the store's
# footer summaries cover are emitted/consumed (boolean/int/long/
# float/double/string); anything else is skipped — stats are optional
# and absence is always correct.

_BOUND_PACK = {"int": "<i", "long": "<q", "float": "<f", "double": "<d"}


def _ser_bound(ice_type, v):
    """One bound value → its Appendix-D binary form, or None to skip
    (type mismatch / overflow: never guess).  Temporal types are exact
    here — ``date`` = 4-byte LE days-from-epoch, ``timestamp[tz]`` =
    8-byte LE microseconds — unlike Delta's writer-formatted ISO
    strings, so they participate in skipping."""
    if not isinstance(ice_type, str):
        return None
    if ice_type == "boolean":
        return (b"\x01" if v else b"\x00") if isinstance(v, bool) \
            else None
    if isinstance(v, bool):
        return None
    if ice_type == "string":
        return v.encode("utf-8") if isinstance(v, str) else None
    if ice_type == "date":
        from tostore_spark.plans.iceberg_transforms import _epoch_days
        days = _epoch_days(v) if not isinstance(v, str) else None
        return None if days is None else struct.pack("<i", days)
    if ice_type in ("timestamp", "timestamptz"):
        from tostore_spark.plans.iceberg_transforms import _epoch_micros
        us = _epoch_micros(v) if not isinstance(v, str) else None
        return None if us is None else struct.pack("<q", us)
    fmt = _BOUND_PACK.get(ice_type)
    if fmt is None:
        return None
    if ice_type in ("int", "long"):
        if not isinstance(v, int):
            return None
        if ice_type == "int" and not -2**31 <= v < 2**31:
            return None
        return struct.pack(fmt, v)
    if not isinstance(v, (int, float)):
        return None
    return struct.pack(fmt, float(v))


def _deser_bound(ice_type, b):
    """Appendix-D binary → python scalar; None when unusable.  A
    foreign writer may TRUNCATE string bounds — sound for skipping:
    a truncated lower bound is still ≤ every value, and the spec
    requires an upper-bound truncation to round UP."""
    if not isinstance(b, (bytes, bytearray)) or not isinstance(
            ice_type, str):
        return None
    b = bytes(b)
    try:
        if ice_type == "boolean":
            return b == b"\x01" if len(b) == 1 else None
        if ice_type == "string":
            return b.decode("utf-8")
        if ice_type == "date":
            if len(b) != 4:
                return None
            import datetime
            days = struct.unpack("<i", b)[0]
            return datetime.date(1970, 1, 1) \
                + datetime.timedelta(days=days)
        if ice_type in ("timestamp", "timestamptz"):
            if len(b) != 8:
                return None
            import datetime
            us = struct.unpack("<q", b)[0]
            return datetime.datetime(1970, 1, 1) \
                + datetime.timedelta(microseconds=us)
        fmt = _BOUND_PACK.get(ice_type)
        if fmt is None or len(b) != struct.calcsize(fmt):
            return None
        v = struct.unpack(fmt, b)[0]
        if isinstance(v, float) and (v != v or v in
                                     (float("inf"), float("-inf"))):
            return None
        return v
    except (UnicodeDecodeError, struct.error, OverflowError):
        return None


def _file_column_stats(fpath: str, schema_json: dict,
                       name_to_id: dict | None = None) -> dict:
    """One staged data file's parquet footer → the manifest's id-keyed
    stats maps (value_counts / null_value_counts / lower_bounds /
    upper_bounds, as the Avro array-of-kv form).  Metadata-only read;
    {} on any hiccup.  ``name_to_id`` adds FILE-column-name → field-id
    aliases for columns whose parquet name differs from the schema
    name (the bridge's column-mapping physical names) — unresolvable
    columns just contribute no stats (conservative)."""
    try:
        import pyarrow.parquet as pq

        from tostore_spark.plans.skipping import _fold_file
        summ = _fold_file(pq.ParquetFile(fpath).metadata,
                          temporal=True)
    except Exception:
        return {}
    rows = summ.get("rows")
    by_name = {f["name"]: f for f in schema_json.get("fields") or []}
    by_id = {int(f["id"]): f for f in schema_json.get("fields") or []}
    vc, nc, lo, hi = [], [], [], []
    for name, ent in sorted((summ.get("cols") or {}).items()):
        f = by_name.get(name)
        if f is None and name_to_id and name in name_to_id:
            f = by_id.get(int(name_to_id[name]))
        if f is None:
            continue
        fid = int(f["id"])
        if rows is not None:
            vc.append({"key": fid, "value": int(rows)})
        if ent.get("nulls") is not None:
            nc.append({"key": fid, "value": int(ent["nulls"])})
        if ent.get("min") is not None:
            lb = _ser_bound(f.get("type"), ent["min"])
            ub = _ser_bound(f.get("type"), ent["max"])
            if lb is not None and ub is not None:
                lo.append({"key": fid, "value": lb})
                hi.append({"key": fid, "value": ub})
    out = {}
    if vc:
        out["value_counts"] = vc
    if nc:
        out["null_value_counts"] = nc
    if lo:
        out["lower_bounds"] = lo
        out["upper_bounds"] = hi
    return out


def _manifest(mdir: str, schema_json: dict, entries: list,
              snap_id: int, seq: int, content: str,
              spec: tuple | None = None) -> dict:
    """Write one manifest Avro file; return its manifest-list entry.
    ``spec`` = (spec_id, spec_fields, part_avro) binds the manifest to
    a PARTITIONED spec (r17 — each manifest carries its own spec-id,
    the mechanism that makes partition EVOLUTION metadata-only);
    None = the unpartitioned spec 0."""
    man_path = os.path.join(
        mdir, f"{uuid.uuid4().hex}-m{0 if content == 'data' else 1}.avro")
    os.makedirs(mdir, exist_ok=True)
    spec_id, spec_fields, part_avro = spec or (0, [], None)
    mes = (_bridge_entry_schema(part_avro) if part_avro
           else _MANIFEST_ENTRY_SCHEMA)
    write_container_file(
        man_path, mes, entries,
        meta={"schema": json.dumps(schema_json), "schema-id": "0",
              "partition-spec": json.dumps(spec_fields),
              "partition-spec-id": str(spec_id),
              "format-version": "2", "content": content})
    # manifest-list counts split by entry status: foreign readers use
    # them for incremental scans / planning shortcuts, so EXISTING
    # survivors (compaction re-listings) must not count as ADDED
    added = [e for e in entries if e.get("status", 1) == 1]
    exist = [e for e in entries if e.get("status", 1) == 0]
    return {
        "manifest_path": man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": int(spec_id),
        "content": 0 if content == "data" else 1,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(added),
        "existing_files_count": len(exist), "deleted_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"]
                                for e in added),
        "existing_rows_count": sum(e["data_file"]["record_count"]
                                   for e in exist),
        "deleted_rows_count": 0,
        "key_metadata": None,
    }


def _commit_snapshot(path: str, meta: dict, data_files,
                     delete_files, *, keep_prior: bool,
                     operation: str, spec: tuple | None = None,
                     pvals_of: dict | None = None) -> dict:
    """Commit one snapshot: write manifests for the staged
    ``data_files`` / ``delete_files`` (``[(abs_path, rows, bytes)]``),
    a manifest list carrying the prior snapshot's manifests when
    ``keep_prior``, and the next ``vN.metadata.json`` (atomic
    put-if-absent claim + hint update).

    ``spec`` = (spec_id, spec_fields, part_avro) binds the DATA
    manifest to a partitioned spec with ``pvals_of`` supplying each
    file's typed partition values ({abs_path: {col: value}}).  Delete
    manifests always bind the unpartitioned spec 0 — a position-delete
    file can span partitions, and an unpartitioned delete manifest is
    never partition-pruned (conservative by construction)."""
    mdir = os.path.join(path, "metadata")
    prev_snap = _pick_snapshot(meta)
    seq = int(meta.get("last-sequence-number", 0)) + 1
    snap_id = max((s["snapshot-id"] for s in
                   meta.get("snapshots", [])), default=0) + 1
    now_ms = int(time.time() * 1000)
    schema_json = _current_schema(meta)
    cur_sid = int(meta.get("current-schema-id", 0))

    def _entries(files, content_code, with_pvals=False):
        out = []
        for item in files or []:
            fpath, rows, size = item[0], item[1], item[2]
            eq_ids = list(item[3]) if len(item) > 3 and item[3] \
                else None
            code = content_code if eq_ids is None else 2
            # data files carry per-column footer stats in the manifest
            # (delete files don't: their columns are reserved-id or
            # key projections, and planners don't skip on them here)
            st = _file_column_stats(fpath, schema_json) \
                if code == 0 else {}
            pv = dict((pvals_of or {}).get(fpath) or {}) \
                if with_pvals else {}
            out.append({
                "status": 1, "snapshot_id": snap_id,
                "sequence_number": None,        # inherited (v2)
                "file_sequence_number": None,
                "data_file": {
                    "content": code, "file_path": fpath,
                    "file_format": "PARQUET", "partition": pv,
                    "record_count": rows, "file_size_in_bytes": size,
                    "value_counts": st.get("value_counts"),
                    "null_value_counts": st.get("null_value_counts"),
                    "lower_bounds": st.get("lower_bounds"),
                    "upper_bounds": st.get("upper_bounds"),
                    "equality_ids": eq_ids,
                }})
        return out

    ml_entries = []
    if keep_prior and prev_snap is not None \
            and prev_snap.get("manifest-list"):
        _, prior = read_container_file(
            _norm_path(prev_snap["manifest-list"]))
        ml_entries.extend(prior)
    total_rows = 0
    n_files = 0
    if data_files:
        ml_entries.append(_manifest(
            mdir, schema_json,
            _entries(data_files, 0, with_pvals=spec is not None),
            snap_id, seq, "data", spec=spec))
        total_rows = sum(r for _, r, _ in data_files)
        n_files = len(data_files)
    if delete_files:
        ml_entries.append(_manifest(
            mdir, schema_json, _entries(delete_files, 1),
            snap_id, seq, "deletes"))
    ml_path = os.path.join(
        mdir, f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro")
    write_container_file(ml_path, _MANIFEST_LIST_SCHEMA, ml_entries,
                         meta={"format-version": "2"})

    snap = {"snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms,
            "summary": {"operation": operation,
                        "added-data-files": str(n_files),
                        "added-records": str(total_rows)},
            "manifest-list": ml_path, "schema-id": cur_sid}
    if prev_snap is not None:
        snap["parent-snapshot-id"] = prev_snap["snapshot-id"]
    meta["snapshots"] = (meta.get("snapshots") or []) + [snap]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["refs"] = {**(meta.get("refs") or {}),
                    "main": {"snapshot-id": snap_id, "type": "branch"}}
    meta.setdefault("snapshot-log", []).append(
        {"timestamp-ms": now_ms, "snapshot-id": snap_id})
    mv = _next_metadata_version(mdir)
    _write_metadata_json(mdir, mv, meta)
    return {"snapshot_id": snap_id, "sequence_number": seq,
            "files": n_files, "rows": total_rows,
            "metadata_version": mv}


_ICE_STATE = "_iceberg_export_state.json"


def _write_position_deletes(path: str, hits: list) -> tuple:
    """Write one spec position-delete parquet (file_path id 2147483546,
    pos id 2147483545; rows sorted by file_path then pos, the spec's
    required order).  Returns ``(abs_path, rows, bytes)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    hits = sorted(hits)
    schema = pa.schema([
        pa.field("file_path", pa.string(),
                 metadata={b"PARQUET:field_id": b"2147483546"}),
        pa.field("pos", pa.int64(),
                 metadata={b"PARQUET:field_id": b"2147483545"})])
    fpath = os.path.join(path, "data",
                         f"delete-{uuid.uuid4().hex}.parquet")
    os.makedirs(os.path.dirname(fpath), exist_ok=True)
    pq.write_table(pa.table(
        {"file_path": [f for f, _ in hits],
         "pos": [int(p) for _, p in hits]}, schema=schema), fpath)
    return (fpath, len(hits), os.path.getsize(fpath))


def _export_iceberg_update(engine, table: str, path: str,
                           target_files=None,
                           cluster_by: list | None = None,
                           delete_route: str = "auto") -> dict:
    """Incremental snapshot (``mode="update"``), the Iceberg analog of
    delta_export._export_update: a pure-append recipe extension
    commits ONLY the new segments' rows; appends+deletes commit as
    MERGE-ON-READ position-delete files (the probe costs one
    key-column scan of the live files per delete epoch — the same
    class as the store's own delete probe — and the delete file is
    O(deleted rows)); anything unprovable falls back to an overwrite
    snapshot.  Every prior snapshot keeps time-traveling."""
    from pyspark.sql import functions as F

    from tostore_spark.store import read_delete_keys
    from tostore_spark.ttl import ttl_active

    spark = engine.spark
    key = engine._resolve(table)
    ent = engine._tables[key]
    meta = _load_metadata(path)
    has_ttl = ttl_active(ent["schema"].ttl)
    new_ops = recipe_tail(engine, key, read_state(path, _ICE_STATE))
    extends = new_ops is not None
    new_ops = new_ops or []
    pby = list(ent.get("partition_by") or [])
    if extends and new_ops and all(k == "seg" for k, _p in new_ops):
        # pure-append extension: stage only the delta rows (under the
        # current identity spec; a changed partition_by appends a new
        # spec-id here — metadata-only, prior manifests keep their own)
        df = appended_frame(engine, ent, [p for _k, p in new_ops])
        spec, _pval = _ensure_identity_spec(meta, pby, df.schema)
        raw_pv: dict = {}
        staged = _stage_iceberg_data(df, path, target_files,
                                     partition_by=pby,
                                     pvals_out=raw_pv)
        rep = _commit_snapshot(path, meta, staged, None,
                               keep_prior=True, operation="append",
                               spec=spec,
                               pvals_of=_typed_pvals(raw_pv, spec,
                                                     _pval))
        rep["commit"] = "append"
        return rep
    if extends and not new_ops:
        return {"snapshot_id": meta.get("current-snapshot-id"),
                "sequence_number": meta.get("last-sequence-number"),
                "files": 0, "rows": 0, "commit": "noop",
                "metadata_version": _next_metadata_version(
                    os.path.join(path, "metadata")) - 1}
    if (extends and new_ops and not has_ttl
            and delete_route != "position"
            and all(k == "del" for k, _p in new_ops)):
        # EQUALITY-delete route for pure-delete epochs (skipped under
        # ``delete_route="position"`` — a delta-bridged mirror needs
        # position deletes, the only kind Delta DVs can express): the
        # key frames become equality-delete files directly — NO probe of the live
        # export at all (true O(deleted keys); the position route
        # below pays a column-pruned key scan of the live files).
        # Sound here because there are no same-commit segments: an
        # equality delete applies only to STRICTLY older data files,
        # and every live file predates this snapshot's sequence number.
        schema_json = _current_schema(meta)
        id_of = {f["name"]: f["id"] for f in schema_json["fields"]}
        try:
            groups: dict[tuple, object] = {}
            for _k, op_path in new_ops:
                keys = read_delete_keys(
                    engine, op_path[:-1] if op_path.endswith("/")
                    else op_path)
                kcols = tuple(sorted(keys.columns))
                if not set(kcols) <= set(id_of):
                    raise ValueError("delete keys invisible in the "
                                     "exported schema")
                keys = keys.select(*kcols)
                groups[kcols] = (keys if kcols not in groups
                                 else groups[kcols].unionByName(keys))
            delete_files = []
            for kcols, frame in groups.items():
                eq_ids = [id_of[c] for c in kcols]
                staged = _stage_iceberg_data(
                    frame.distinct(), path, target_files, id_of=id_of)
                delete_files += [(fp, r, s, eq_ids)
                                 for fp, r, s in staged]
            rep = _commit_snapshot(path, meta, None, delete_files,
                                   keep_prior=True, operation="delete")
            rep["commit"] = "eqdel"
            rep["delete_keys"] = sum(f[1] for f in delete_files)
            return rep
        except Exception:
            # fall through to the position route / refresh below
            meta = _load_metadata(path)
    if (extends and not has_ttl
            and all(k in ("seg", "del") for k, _p in new_ops)):
        # merge-on-read: stage segs, resolve dels to (file, pos) over
        # the files live at that point in recipe order
        schema_json = _current_schema(meta)
        sschema = _schema_to_spark(schema_json)
        snap = _pick_snapshot(meta)
        if snap is not None:
            live, _pd, _ed, live_parts, live_fstats = _scan_files(
                meta, snap, meta.get("location") or path)
        else:
            live, live_parts, live_fstats = [], {}, {}
        live_seq = {fp: seq for fp, seq in live}
        staged_all = []
        mor_spec, mor_pval, mor_raw = None, None, {}

        def _stage(seg):
            nonlocal mor_spec, mor_pval
            part = appended_frame(engine, ent, [seg])
            if pby and mor_spec is None:
                mor_spec, mor_pval = _ensure_identity_spec(
                    meta, pby, part.schema)
            staged = _stage_iceberg_data(part, path, target_files,
                                         partition_by=pby,
                                         pvals_out=mor_raw)
            staged_all.extend(staged)
            return [fp for fp, _r, _s in staged]

        def _nrows(fp):
            r = (live_fstats.get(fp) or {}).get("rows")
            return int(r) if r else None

        spark.conf.set("spark.sql.parquet.fieldId.read.enabled",
                       "true")
        pos = delete_positions(
            engine, new_ops, sschema, [fp for fp, _seq in live],
            stage=_stage,
            read=lambda fps: spark.read.schema(sschema).parquet(*fps),
            file_key=lambda fp: F.regexp_replace(fp, "^file:/*", "/"),
            bounds_prune=lambda fps, node: [
                fp for fp, _s in _prune_by_stats(
                    meta, schema_json, [(fp, live_seq[fp]) for fp in fps],
                    live_parts, live_fstats, node)],
            nrows_of=_nrows,
            bloom_dir=os.path.join(path, "metadata"))
        if pos is not None:
            hits = {(f, p) for f, ps in pos.items() for p in ps}
            rep = _commit_snapshot(
                path, meta, staged_all or None,
                [_write_position_deletes(path, hits)] if hits else None,
                keep_prior=True,
                operation="overwrite" if staged_all else "delete",
                spec=mor_spec,
                pvals_of=_typed_pvals(mor_raw, mor_spec, mor_pval))
            rep["commit"] = "mor"
            rep["delete_positions"] = len(hits)
            return rep
    # refresh: a fresh overwrite snapshot (prior snapshots keep
    # time-traveling; their files stay on disk).  SCHEMA EVOLUTION
    # rides this tier (store migrations rewrite the frame, poisoning
    # the fast paths): a changed frame schema appends a NEW schema to
    # the metadata's schemas list and points current-schema-id at it —
    # sound because the refresh restages EVERY data file under the new
    # schema in the same commit, and each retained snapshot keeps its
    # own schema-id for time travel (the reader binds field ids
    # against the snapshot's schema, not the current one).
    df = engine.df(table)
    cur_sj = _current_schema(meta)
    cur_shape = [(f["name"],
                  json.dumps(f["type"], sort_keys=True)
                  if isinstance(f["type"], dict) else f["type"],
                  f.get("required", False))
                 for f in cur_sj["fields"]]
    new_sj = _table_schema_json(df.schema)
    new_shape = [(f["name"],
                  json.dumps(f["type"], sort_keys=True)
                  if isinstance(f["type"], dict) else f["type"],
                  f.get("required", False))
                 for f in new_sj["fields"]]

    def _strip_ids(shape):
        # nested types embed field ids; compare id-insensitively
        return [(n, re.sub(r'"(?:element-id|key-id|value-id|id)":\s*\d+',
                           '"id":0', t), r) for n, t, r in shape]
    if _strip_ids(cur_shape) != _strip_ids(new_shape):
        schemas = list(meta.get("schemas") or [cur_sj])
        sid = max(int(s.get("schema-id", 0)) for s in schemas) + 1
        new_sj["schema-id"] = sid
        meta["schemas"] = schemas + [new_sj]
        meta["current-schema-id"] = sid
        meta["last-column-id"] = max(
            int(meta.get("last-column-id", 0)), _max_field_id(new_sj))
        if "schema" in meta:         # keep any v1 singular key in step
            meta["schema"] = new_sj
    # PARTITION EVOLUTION also rides this tier when the store table
    # re-registered with a different partition_by: a new spec-id is
    # appended (metadata-only) and the restaged files commit under it;
    # prior snapshots keep pruning under their own spec ids
    spec, _pval = _ensure_identity_spec(meta, pby, df.schema)
    raw_pv = {}
    staged = _stage_iceberg_data(df, path, target_files,
                                 cluster_by=cluster_by,
                                 partition_by=pby, pvals_out=raw_pv)
    rep = _commit_snapshot(path, meta, staged, None,
                           keep_prior=False, operation="overwrite",
                           spec=spec,
                           pvals_of=_typed_pvals(raw_pv, spec, _pval))
    rep["commit"] = "refresh"
    return rep


def _max_field_id(schema_json: dict) -> int:
    mx = 0

    def walk(t):
        nonlocal mx
        if isinstance(t, dict):
            if t.get("type") == "struct":
                for f in t["fields"]:
                    mx = max(mx, int(f["id"]))
                    walk(f["type"])
            elif t.get("type") == "list":
                mx = max(mx, int(t["element-id"]))
                walk(t["element"])
            elif t.get("type") == "map":
                mx = max(mx, int(t["key-id"]), int(t["value-id"]))
                walk(t["key"])
                walk(t["value"])
    walk(schema_json)
    return mx


def _next_metadata_version(mdir: str) -> int:
    mx = 0
    for f in glob.glob(os.path.join(mdir, "v*.metadata.json")):
        m = re.match(r"v(\d+)\.metadata\.json$", os.path.basename(f))
        if m:
            mx = max(mx, int(m.group(1)))
    return mx + 1


def convert_to_iceberg(spark, path: str) -> dict:
    """IN-PLACE conversion of a plain parquet directory (flat or
    hive-partitioned) into an Iceberg v2 table — the spec's
    hive-migration path: no data copied or moved; the table metadata
    carries ``schema.name-mapping.default`` (the files have no field
    ids, so readers — foreign engines and ``read_iceberg`` alike —
    resolve columns by NAME through the mapping), hive ``k=v``
    directories become an identity partition spec whose values live
    in the manifests (data files do NOT contain the partition
    columns; readers fill them from partition metadata per Column
    Projection rule 2), and every manifest entry carries footer
    column bounds so ``where=`` skipping works immediately.

    Supported column types: primitives and arrays of primitives
    (name mapping for struct/map columns is not emitted — refuse
    rather than write a mapping foreign readers would misapply);
    partition column types: int/long/string/boolean/double/date.

    Scale: one footer read per file, zero row IO — the adoption tool
    for pre-existing datasets, Iceberg flavor."""
    from pyspark.sql import types as T
    p = _norm_path(path)
    mdir = os.path.join(p, "metadata")
    if os.path.isdir(mdir) and os.listdir(mdir):
        raise ValueError(f"{p} already has iceberg metadata — "
                         "refusing to re-convert")
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
                "convert_to_iceberg needs a flat or hive layout")
        pcols.append(unquote(seg.split("=", 1)[0]))

    full = spark.read.option("basePath", p).parquet(p)
    spark_schema = full.schema
    schema_json, mapping = _convert_schema_and_mapping(spark_schema)
    spec_fields, part_avro, _pval = _convert_identity_spec(
        pcols, schema_json, spark_schema)

    file_pvals = []
    for fp in sorted(files):
        rel = os.path.relpath(fp, p).replace(os.sep, "/")
        segs = rel.split("/")[:-1]
        keys = [unquote(s.split("=", 1)[0]) for s in segs if "=" in s]
        if keys != pcols or len(segs) != len(keys):
            raise ValueError(
                f"inconsistent partition layout: {rel!r} does not "
                f"follow {pcols!r}")
        pvals = {}
        for s in segs:
            k, v = s.split("=", 1)
            v = unquote(v)
            pvals[unquote(k)] = _pval(
                unquote(k),
                None if v == "__HIVE_DEFAULT_PARTITION__" else v)
        file_pvals.append((fp, pvals, None))
    rep = _commit_converted_snapshot(p, spark_schema, schema_json,
                                     mapping, spec_fields, part_avro,
                                     file_pvals)
    rep["partition_columns"] = pcols
    return rep


def _convert_schema_and_mapping(spark_schema):
    """Conversion schema handling: assign field ids + build the spec
    NameMapping — RECURSIVE (late r17): struct children map by name,
    lists map their element under ``element``, maps their entries
    under ``key``/``value`` (the names Spark's parquet writer gives
    those paths), each carrying its assigned field id, so foreign
    readers resolve every nesting level of id-less files exactly as
    the spec's "Column Projection" name rule prescribes."""
    schema_json = _table_schema_json(spark_schema)

    def _map_type(t):
        """Nested MappedFields for one Iceberg type dict (None for
        primitives)."""
        if not isinstance(t, dict):
            return None
        tt = t.get("type")
        if tt == "struct":
            return [_entry(f) for f in t["fields"]]
        if tt == "list":
            e = {"field-id": int(t["element-id"]),
                 "names": ["element"]}
            sub = _map_type(t.get("element"))
            if sub:
                e["fields"] = sub
            return [e]
        if tt == "map":
            k = {"field-id": int(t["key-id"]), "names": ["key"]}
            v = {"field-id": int(t["value-id"]), "names": ["value"]}
            sub = _map_type(t.get("value"))
            if sub:
                v["fields"] = sub
            return [k, v]
        return None

    def _entry(f):
        ent = {"field-id": int(f["id"]), "names": [f["name"]]}
        sub = _map_type(f.get("type"))
        if sub:
            ent["fields"] = sub
        return ent

    return schema_json, [_entry(f) for f in schema_json["fields"]]


def _convert_identity_spec(pcols, schema_json, spark_schema):
    """Identity partition spec for converted tables: spec fields +
    the manifest partition-record Avro fields + a string→typed value
    decoder for the recorded partition values."""
    from pyspark.sql import types as T
    by_name = {f["name"]: f for f in schema_json["fields"]}
    _AVRO_PART = {T.IntegerType: "int", T.LongType: "long",
                  T.StringType: "string", T.BooleanType: "boolean",
                  T.DoubleType: "double", T.DateType: "int"}
    spec_fields, part_avro, part_decode = [], [], {}
    for i, c in enumerate(pcols):
        if c not in by_name:
            raise ValueError(f"partition column {c!r} missing from "
                             "the schema")
        sdt = spark_schema[c].dataType
        av = _AVRO_PART.get(type(sdt))
        if av is None:
            raise ValueError(
                f"partition column {c!r} type {sdt} unsupported")
        spec_fields.append({"name": c, "transform": "identity",
                            "source-id": int(by_name[c]["id"]),
                            "field-id": 1000 + i})
        part_avro.append({"name": c, "type": ["null", av],
                          "field-id": 1000 + i, "default": None})
        part_decode[c] = sdt

    def _pval(c, raw):
        if raw is None:
            return None
        dt = part_decode[c]
        if isinstance(dt, (T.IntegerType, T.LongType)):
            return int(raw)
        if isinstance(dt, T.BooleanType):
            return raw.lower() == "true"
        if isinstance(dt, T.DoubleType):
            return float(raw)
        if isinstance(dt, T.DateType):
            import datetime
            return (datetime.date.fromisoformat(raw)
                    - datetime.date(1970, 1, 1)).days
        return raw

    return spec_fields, part_avro, _pval


def convert_delta_to_iceberg(spark, path: str) -> dict:
    """UniForm-style bridge: write Iceberg v2 metadata OVER a Delta
    table's CURRENT live files — same parquet, two table formats, no
    data copied.  Foreign Iceberg engines (and ``read_iceberg``) see
    exactly the Delta table's present state: the Delta log's
    partitionValues become an identity partition spec with values in
    the manifests (Delta data files don't contain partition columns —
    Column Projection rule 2 fills them), ``schema.name-mapping.
    default`` covers the id-less files, and footer bounds land in
    every manifest entry.

    The conversion records the bridged Delta version; afterwards
    ``sync_delta_to_iceberg`` keeps the Iceberg view CURRENT by
    folding each new Delta commit into an incremental Iceberg
    snapshot (the continuous-UniForm loop).  ``vacuum_delta`` may
    reclaim files a RETAINED older Iceberg snapshot references —
    run ``expire_snapshots`` down to the current one before
    vacuuming, exactly the real-world UniForm caveat.  Live deletion
    vectors fold into the bootstrap snapshot as one position-delete
    file (r17 — positions straight from the bitmaps, zero row IO)
    with the ``bridge-dv-state.json`` sidecar seeded so later DV
    commits diff against it; column mapping refuses (physical
    names)."""
    from pyspark.sql.types import StructType

    from tostore_spark.plans.delta_export import _replay
    p = _norm_path(path)
    mdir = os.path.join(p, "metadata")
    if os.path.isdir(mdir) and os.listdir(mdir):
        raise ValueError(f"{p} already has iceberg metadata — "
                         "refusing to re-convert")
    state = _replay(p, None)
    meta_d = state["meta"]
    if (meta_d.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none") not in ("none", ""):
        raise ValueError("convert_delta_to_iceberg under column "
                         "mapping is not supported")
    dv_hits, dv_seed = [], {}
    if any(a.get("deletionVector") for a in state["files"].values()):
        from tostore_spark.plans.delta_dv import (
            MAX_TOTAL_POSITIONS, decode_deletion_vector)
        for rel, add in sorted(state["files"].items()):
            if not add.get("deletionVector"):
                continue
            pos = set(decode_deletion_vector(
                p, add["deletionVector"]))
            dv_hits += [(os.path.join(p, rel), pp)
                        for pp in sorted(pos)]
            dv_seed[rel] = pos
        if len(dv_hits) > MAX_TOTAL_POSITIONS:
            raise ValueError(
                f"the delta table carries {len(dv_hits)} deletion-"
                "vector positions — over the driver-side bound; "
                "optimize_delta first (it materializes them)")
    spark_schema = StructType.fromJson(
        json.loads(meta_d["schemaString"]))
    schema_json, mapping = _convert_schema_and_mapping(spark_schema)
    pcols = list(meta_d.get("partitionColumns") or [])
    spec_fields, part_avro, _pval = _convert_identity_spec(
        pcols, schema_json, spark_schema)
    file_pvals = []
    for rel, add in sorted(state["files"].items()):
        pv_raw = add.get("partitionValues") or {}
        pvals = {c: _pval(c, pv_raw.get(c)) for c in pcols}
        n_rows = None
        st = add.get("stats")
        if st:
            try:
                n = json.loads(st).get("numRecords")
                if isinstance(n, int):
                    n_rows = n
            except Exception:
                pass
        file_pvals.append((os.path.join(p, rel), pvals, n_rows))
    rep = _commit_converted_snapshot(
        p, spark_schema, schema_json, mapping, spec_fields, part_avro,
        file_pvals,
        extra_props={_BRIDGE_PROP: str(state["version"])},
        dv_hits=dv_hits)
    if dv_seed:
        _save_bridge_dv_state(mdir, dv_seed)
    rep["partition_columns"] = pcols
    rep["delta_version"] = state["version"]
    return rep


def _commit_converted_snapshot(p, spark_schema, schema_json, mapping,
                               spec_fields, part_avro,
                               file_pvals, extra_props=None,
                               dv_hits=None) -> dict:
    """Shared tail of the conversion paths: write manifest +
    manifest list + v1 metadata for snapshot 1 over the given
    ``[(abs_path, partition_values, rows|None)]`` files (rows=None →
    read the footer).  ``dv_hits`` = folded deletion-vector positions
    ``[(abs_path, pos)]`` — committed as one position-delete file in
    a DELETES manifest at the same sequence number (equal seq applies
    for position deletes, the spec's same-commit rule)."""
    import copy

    import pyarrow.parquet as pq
    mdir = os.path.join(p, "metadata")
    mes = copy.deepcopy(_MANIFEST_ENTRY_SCHEMA)
    pf_field = next(f for f in mes["fields"][4]["type"]["fields"]
                    if f["name"] == "partition")
    pf_field["type"]["fields"] = part_avro
    snap_id, seq = 1, 1
    entries, total_rows = [], 0
    for fp, pvals, n_rows in file_pvals:
        if n_rows is None:
            n_rows = int(pq.ParquetFile(fp).metadata.num_rows)
        total_rows += int(n_rows)
        st = _file_column_stats(fp, schema_json)
        entries.append({
            "status": 1, "snapshot_id": snap_id,
            "sequence_number": None, "file_sequence_number": None,
            "data_file": {
                "content": 0, "file_path": fp,
                "file_format": "PARQUET", "partition": pvals,
                "record_count": int(n_rows),
                "file_size_in_bytes": os.path.getsize(fp),
                "value_counts": st.get("value_counts"),
                "null_value_counts": st.get("null_value_counts"),
                "lower_bounds": st.get("lower_bounds"),
                "upper_bounds": st.get("upper_bounds"),
                "equality_ids": None}})
    os.makedirs(mdir, exist_ok=True)
    man_path = os.path.join(mdir, f"{uuid.uuid4().hex}-m0.avro")
    write_container_file(
        man_path, mes, entries,
        meta={"schema": json.dumps(schema_json), "schema-id": "0",
              "partition-spec": json.dumps(spec_fields),
              "partition-spec-id": "0", "format-version": "2",
              "content": "data"})
    ml_entries = [{
        "manifest_path": man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": 0, "content": 0,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(entries),
        "existing_files_count": 0, "deleted_files_count": 0,
        "added_rows_count": total_rows,
        "existing_rows_count": 0, "deleted_rows_count": 0,
        "key_metadata": None}]
    if dv_hits:
        dfl = _write_position_deletes(p, dv_hits)
        ml_entries.append(_manifest(
            mdir, schema_json,
            [{"status": 1, "snapshot_id": snap_id,
              "sequence_number": None, "file_sequence_number": None,
              "data_file": {
                  "content": 1, "file_path": dfl[0],
                  "file_format": "PARQUET", "partition": {},
                  "record_count": dfl[1],
                  "file_size_in_bytes": dfl[2],
                  "value_counts": None, "null_value_counts": None,
                  "lower_bounds": None, "upper_bounds": None,
                  "equality_ids": None}}],
            snap_id, seq, "deletes"))
    ml_path = os.path.join(
        mdir, f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro")
    write_container_file(ml_path, _MANIFEST_LIST_SCHEMA, ml_entries,
                         meta={"format-version": "2"})
    now_ms = int(time.time() * 1000)
    meta = _fresh_meta(p, spark_schema)
    meta["partition-specs"] = [{"spec-id": 0, "fields": spec_fields}]
    meta["last-partition-id"] = 999 + len(spec_fields)
    meta["properties"]["schema.name-mapping.default"] = \
        json.dumps(mapping)
    meta["properties"].update(extra_props or {})
    summary = {"operation": "overwrite" if dv_hits else "append",
               "added-data-files": str(len(entries)),
               "added-records": str(total_rows)}
    if dv_hits:
        summary["added-delete-files"] = "1"
        summary["added-position-deletes"] = str(len(dv_hits))
    snap = {"snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms,
            "summary": summary,
            "manifest-list": ml_path, "schema-id": 0}
    meta["snapshots"] = [snap]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["refs"] = {"main": {"snapshot-id": snap_id,
                             "type": "branch"}}
    meta["snapshot-log"] = [{"timestamp-ms": now_ms,
                             "snapshot-id": snap_id}]
    _write_metadata_json(mdir, 1, meta)
    return {"path": p, "snapshot_id": snap_id, "files": len(entries),
            "rows": total_rows}


def rewrite_data_files(spark, path: str,
                       target_file_bytes: int = 128 * 1024 * 1024,
                       cluster_by: list | None = None,
                       min_files: int = 2) -> dict:
    """Iceberg compaction (the ``rewriteDataFiles`` maintenance
    action) for exported/foreign tables: bin-pack data files under
    ``target_file_bytes`` into ~target-sized files and commit a
    ``replace`` snapshot — surviving files re-listed as EXISTING
    entries CARRYING THEIR ORIGINAL sequence numbers (the spec rule
    that keeps older position/equality deletes scoped exactly), new
    files as ADDED.  The logical table provably never changes; every
    prior snapshot keeps time-traveling until ``expire_snapshots``.

    When the current snapshot carries live DELETE files, a bin-pack
    of only SOME data files cannot drop the delete files (they may
    target survivors) and re-listing compacted rows under a new
    sequence number would un-scope older deletes from them — so the
    rewrite MATERIALIZES instead: one full read of the current state
    (deletes applied) becomes a fresh file set, and no delete files
    are re-listed.  ``cluster_by`` range-clusters the rewritten files
    (and widens candidacy to every file).  Returns {"snapshot_id",
    "rewritten", "files", "mode"} (snapshot_id None = nothing to do).

    PARTITIONED exports compact partition-preservingly (r17): the
    rewritten files restage under the CURRENT default spec — one
    partition tuple per file, values re-derived from the data (the
    exporter keeps partition sources IN the files) — and survivors
    re-list in per-spec EXISTING manifests carrying their original
    partition values, so a rewrite can also MIGRATE old-spec files
    onto the current spec (Iceberg's own rewrite does the same).

    Scale: the bin-pack path's IO ∝ the small files' bytes; the
    materialize path is O(live rows) — the documented price of
    compacting under merge-on-read deletes (Iceberg's own
    rewriteDataFiles pays the same)."""
    p = _norm_path(path)
    meta = _load_metadata(p)
    snap = _pick_snapshot(meta)
    if snap is None:
        return {"snapshot_id": None, "rewritten": 0, "files": 0,
                "mode": "noop"}
    schema_json = _schema_for_snapshot(meta, snap)
    location = meta.get("location") or p
    fspec: dict = {}
    data, pos_del, eq_del, parts, _fs = _scan_files(
        meta, snap, location, fspec_out=fspec)
    # PARTITIONED exports compact partition-preservingly (r17): the
    # rewritten files restage under the CURRENT default spec (the
    # source columns live IN exporter data files, so the per-tuple
    # staging re-derives values), while survivors re-list in per-spec
    # EXISTING manifests carrying their ORIGINAL partition values and
    # spec-ids.  Hive-stripped (converted) tables refuse below via
    # the name-mapping gate — their files cannot restage losslessly.
    sschema = _schema_to_spark(schema_json)
    def_sid = int(meta.get("default-spec-id", 0))
    def_spec, _pv_def = _spec_tools(meta, def_sid, schema_json,
                                    sschema)
    if def_spec is None and any(parts.get(fp) for fp, _ in data):
        raise ValueError(
            "rewrite_data_files: data files carry partition values "
            "but the default spec is unpartitioned — refusing a "
            "rewrite that would drop them")
    if (meta.get("properties") or {}).get(
            "schema.name-mapping.default"):
        # converted tables resolve columns by NAME MAPPING (their data
        # files carry no field ids); the binpack read here resolves by
        # id and would fail — or worse, mix id-resolved rewrites with
        # id-less survivors under a still-present mapping.  Mirrors
        # optimize_delta's column-mapping refusal.
        raise ValueError(
            "rewrite_data_files on a name-mapped (converted) table "
            "is not supported — the mixed id/name file layout it "
            "would produce cannot be resolved safely")
    has_deletes = bool(pos_del or eq_del)
    id_of = {f["name"]: f["id"] for f in schema_json["fields"]}
    mdir = os.path.join(p, "metadata")
    seq = int(meta.get("last-sequence-number", 0)) + 1
    snap_id = max((s["snapshot-id"] for s in
                   meta.get("snapshots", [])), default=0) + 1

    pby_cols = [f["name"] for f in def_spec[1]] if def_spec else []
    raw_pv: dict = {}
    if has_deletes:
        df = read_iceberg(spark, p)
        total = sum(os.path.getsize(fp) for fp, _ in data
                    if os.path.exists(fp))
        n_out = min(4096, max(1, (total + int(target_file_bytes) - 1)
                              // int(target_file_bytes)))
        staged = _stage_iceberg_data(df, p, n_out,
                                     id_of=id_of, cluster_by=cluster_by,
                                     partition_by=pby_cols,
                                     pvals_out=raw_pv)
        survivors = []
        rewritten = len(data)
        mode = "materialize"
    else:
        sizes = {fp: os.path.getsize(fp) if os.path.exists(fp) else 0
                 for fp, _ in data}
        if cluster_by:
            cand = list(data)
        else:
            cand = [(fp, s) for fp, s in data
                    if sizes[fp] < int(target_file_bytes)]
        if len(cand) < max(2, int(min_files)):
            return {"snapshot_id": None, "rewritten": 0, "files": 0,
                    "mode": "noop"}
        cand_set = {fp for fp, _ in cand}
        survivors = [(fp, s) for fp, s in data
                     if fp not in cand_set]
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled",
                       "true")
        df = spark.read.schema(sschema).parquet(
            *[fp for fp, _ in sorted(cand)])
        total = sum(sizes[fp] for fp, _ in cand)
        n_out = min(4096, max(1, (total + int(target_file_bytes) - 1)
                              // int(target_file_bytes)))
        staged = _stage_iceberg_data(df, p, n_out,
                                     id_of=id_of, cluster_by=cluster_by,
                                     partition_by=pby_cols,
                                     pvals_out=raw_pv)
        rewritten = len(cand)
        mode = "binpack"

    typed_pv = _typed_pvals(raw_pv, def_spec, _pv_def) \
        if def_spec else {}
    entries = []
    for fpath, rows, size in staged:
        st = _file_column_stats(fpath, schema_json)
        entries.append({
            "status": 1, "snapshot_id": snap_id,
            "sequence_number": None,            # inherits `seq`
            "file_sequence_number": None,
            "data_file": {
                "content": 0, "file_path": fpath,
                "file_format": "PARQUET",
                "partition": dict(typed_pv.get(fpath) or {}),
                "record_count": int(rows),
                "file_size_in_bytes": int(size),
                "value_counts": st.get("value_counts"),
                "null_value_counts": st.get("null_value_counts"),
                "lower_bounds": st.get("lower_bounds"),
                "upper_bounds": st.get("upper_bounds"),
                "equality_ids": None}})
    # survivors re-list per ORIGINAL spec, each entry carrying its
    # recorded partition values and original data sequence number
    # (the delete-scoping rule); same-spec survivors share the adds'
    # manifest (the r15 shape), foreign-spec survivors get their own
    def _existing_entry(fp, orig_seq):
        # spec requires record_count on every entry — a wrong value
        # could mis-drive stats refutation, so a failed footer read
        # aborts the rewrite (the file was scanned moments ago; a
        # failure here means real corruption)
        import pyarrow.parquet as pq
        n_rows = int(pq.ParquetFile(fp).metadata.num_rows)
        st = _file_column_stats(fp, schema_json)
        return {
            "status": 0,                        # EXISTING
            "snapshot_id": snap.get("snapshot-id"),
            "sequence_number": int(orig_seq),
            "file_sequence_number": int(orig_seq),
            "data_file": {
                "content": 0, "file_path": fp,
                "file_format": "PARQUET",
                "partition": dict(parts.get(fp) or {}),
                "record_count": n_rows,
                "file_size_in_bytes": os.path.getsize(fp),
                "value_counts": st.get("value_counts"),
                "null_value_counts": st.get("null_value_counts"),
                "lower_bounds": st.get("lower_bounds"),
                "upper_bounds": st.get("upper_bounds"),
                "equality_ids": None}}

    by_spec: dict = {}
    for fp, orig_seq in survivors:
        by_spec.setdefault(int(fspec.get(fp, 0)), []).append(
            (fp, orig_seq))
    same = by_spec.pop(def_sid if def_spec else 0, [])
    entries += [_existing_entry(fp, s) for fp, s in same]
    ml_entries = [_manifest(mdir, schema_json, entries, snap_id, seq,
                            "data", spec=def_spec)]
    if same:
        # EXISTING entries carry older seqs; the manifest-list entry's
        # min_sequence_number must cover them (spec scan planning)
        ml_entries[0]["min_sequence_number"] = min(
            [seq] + [int(s) for _fp, s in same])
    for sid_s, subs in sorted(by_spec.items()):
        sp_tools, _pv_s = _spec_tools(meta, sid_s, schema_json,
                                      sschema)
        m = _manifest(mdir, schema_json,
                      [_existing_entry(fp, s) for fp, s in subs],
                      snap_id, seq, "data", spec=sp_tools)
        m["min_sequence_number"] = min(
            [seq] + [int(s) for _fp, s in subs])
        ml_entries.append(m)
    now_ms = int(time.time() * 1000)
    ml_path = os.path.join(
        mdir, f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro")
    write_container_file(ml_path, _MANIFEST_LIST_SCHEMA, ml_entries,
                         meta={"format-version": "2"})
    cur_sid = int(meta.get("current-schema-id", 0))
    new_snap = {"snapshot-id": snap_id, "sequence-number": seq,
                "timestamp-ms": now_ms,
                "summary": {"operation": "replace",
                            "rewritten-data-files": str(rewritten)},
                "manifest-list": ml_path, "schema-id": cur_sid,
                "parent-snapshot-id": snap["snapshot-id"]}
    meta["snapshots"] = (meta.get("snapshots") or []) + [new_snap]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["refs"] = {**(meta.get("refs") or {}),
                    "main": {"snapshot-id": snap_id, "type": "branch"}}
    meta.setdefault("snapshot-log", []).append(
        {"timestamp-ms": now_ms, "snapshot-id": snap_id})
    _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
    return {"snapshot_id": snap_id, "rewritten": rewritten,
            "files": len(staged), "mode": mode, "path": p}


def rewrite_manifests(path: str, min_count_to_merge: int = 2) -> dict:
    """Iceberg ``rewriteManifests`` for exports/bridges: consolidate
    the current snapshot's manifests — one per (content, spec-id)
    group — into fresh manifests of EXISTING entries carrying their
    ORIGINAL sequence numbers, committed as a ``replace`` snapshot.
    Zero data IO: entries re-emit VERBATIM from the decoded manifests
    (stats, partition values and seqs preserved — no footer re-reads),
    so the only cost is the driver-side decode + re-encode, metadata
    ∝ file count.

    Why it matters at scale: every incremental sync/export stacks one
    manifest per commit; a million-file table fed by per-flush
    mirroring accumulates thousands of tiny manifests, and every scan
    plan, changelog fold, and bridge delete walks them.  After a
    rewrite the walk is one manifest per (content, spec) group.  The
    forward bridge's path→manifest index detects the foreign rewrite
    by set-inequality and rebuilds itself on the next sync; the
    reverse bridge's next sync sees identical live files and folds a
    harmless metaData-only version.

    No-op (returns ``{"rewritten": 0, ...}``) when no group has at
    least ``min_count_to_merge`` manifests.  Delete manifests
    consolidate the same way (their delete files keep applying by
    their original sequence numbers).  Time travel to every prior
    snapshot is untouched — old manifest files stay until
    ``expire_snapshots`` reclaims them."""
    p = _norm_path(path)
    meta = _load_metadata(p)
    snap = _pick_snapshot(meta)
    if snap is None:
        raise ValueError(f"{p} has no snapshots")
    fv = meta.get("format-version", 1)
    if fv < 2 or not snap.get("manifest-list"):
        raise ValueError(
            "rewrite_manifests needs a format-version 2 table with a "
            "manifest list (v1 inline-manifest tables: re-export)")
    location = meta.get("location") or p

    def _abs(mp):
        mp = _norm_path(mp)
        if not os.path.isabs(mp):
            mp = os.path.join(_norm_path(location), mp)
        return mp

    _, mlist = read_container_file(_abs(snap["manifest-list"]))
    groups: dict = {}
    for m in mlist:
        key = (int(m.get("content") or 0),
               int(m.get("partition_spec_id") or 0))
        groups.setdefault(key, []).append(m)
    if not any(len(ms) >= max(2, int(min_count_to_merge))
               for ms in groups.values()):
        return {"path": p, "rewritten": 0,
                "manifests": len(mlist),
                "snapshot_id": snap["snapshot-id"]}
    schema_json = _current_schema(meta)
    sschema = _schema_to_spark(schema_json)
    snap_id = int(snap["snapshot-id"]) + 1
    while any(int(s["snapshot-id"]) == snap_id
              for s in meta.get("snapshots") or []):
        snap_id += 1
    seq = int(meta.get("last-sequence-number", 0)) + 1
    mdir = os.path.join(p, "metadata")
    ml_entries, rewritten = [], 0
    for (content, sid_s), ms in sorted(groups.items()):
        if len(ms) < max(2, int(min_count_to_merge)):
            ml_entries.extend(ms)            # carry over verbatim
            continue
        entries, seqs = [], []
        for m in ms:
            mseq = m.get("sequence_number") or 0
            _, es = read_container_file(_abs(m["manifest_path"]))
            for e in es:
                if e.get("status") == 2:     # DELETED: not live
                    continue
                eseq = e.get("sequence_number")
                if eseq is None:
                    eseq = mseq if fv >= 2 else 0
                df_ = dict(e["data_file"])
                df_.setdefault("content", 0)
                df_.setdefault("equality_ids", None)
                entries.append({
                    "status": 0,             # EXISTING
                    "snapshot_id": e.get("snapshot_id")
                    or m.get("added_snapshot_id")
                    or snap["snapshot-id"],
                    "sequence_number": int(eseq),
                    "file_sequence_number": int(
                        e.get("file_sequence_number") or eseq),
                    "data_file": df_})
                seqs.append(int(eseq))
        rewritten += len(ms)
        if not entries:
            continue                          # all-dead group drops
        sp_tools, _pv = _spec_tools(meta, sid_s, schema_json, sschema)
        mle = _manifest(mdir, schema_json, entries, snap_id, seq,
                        "data" if content == 0 else "deletes",
                        spec=sp_tools)
        mle["min_sequence_number"] = min(seqs)
        ml_entries.append(mle)
    now_ms = int(time.time() * 1000)
    ml_path = os.path.join(
        mdir, f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro")
    write_container_file(ml_path, _MANIFEST_LIST_SCHEMA, ml_entries,
                         meta={"format-version": "2"})
    new_snap = {"snapshot-id": snap_id, "sequence-number": seq,
                "timestamp-ms": now_ms,
                "summary": {"operation": "replace",
                            "rewritten-manifests": str(rewritten),
                            "added-data-files": "0",
                            "added-records": "0"},
                "manifest-list": ml_path,
                "schema-id": int(meta.get("current-schema-id", 0)),
                "parent-snapshot-id": snap["snapshot-id"]}
    meta["snapshots"] = (meta.get("snapshots") or []) + [new_snap]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["refs"] = {**(meta.get("refs") or {}),
                    "main": {"snapshot-id": snap_id, "type": "branch"}}
    meta.setdefault("snapshot-log", []).append(
        {"timestamp-ms": now_ms, "snapshot-id": snap_id})
    _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
    return {"path": p, "rewritten": rewritten,
            "manifests": len(ml_entries), "snapshot_id": snap_id}


def create_ref(path: str, name: str, snapshot_id: int | None = None,
               kind: str = "tag") -> dict:
    """Create a named BRANCH/TAG ref (spec ``refs`` map) pointing at
    ``snapshot_id`` (default: the current snapshot) — committed as
    the next metadata version, so the change is atomic for foreign
    readers.  ``expire_snapshots`` retains ref'd snapshots;
    ``read_iceberg(ref=...)`` resolves them — the audit-tag / WAP
    workflow every Iceberg catalog exposes."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"ref kind must be tag|branch, got {kind!r}")
    p = _norm_path(path)
    meta = _load_metadata(p)
    snap = _pick_snapshot(meta, snapshot_id)
    if snap is None:
        raise ValueError("table has no snapshot to reference")
    refs = dict(meta.get("refs") or {})
    if name in refs:
        raise ValueError(f"iceberg ref {name!r} already exists "
                         f"(-> snapshot {refs[name].get('snapshot-id')})")
    refs[name] = {"snapshot-id": snap["snapshot-id"], "type": kind}
    meta["refs"] = refs
    meta["last-updated-ms"] = int(time.time() * 1000)
    mdir = os.path.join(p, "metadata")
    mv = _next_metadata_version(mdir)
    _write_metadata_json(mdir, mv, meta)
    return {"name": name, "snapshot_id": snap["snapshot-id"],
            "type": kind, "metadata_version": mv}


def rename_iceberg_column(path: str, renames: dict) -> dict:
    """``ALTER TABLE ... RENAME COLUMN`` for exported Iceberg tables —
    a METADATA-ONLY evolution (spec "Schema Evolution": renames never
    touch data because readers resolve by FIELD ID): append a new
    schema with the SAME field ids under the new names, point
    ``current-schema-id`` at it, commit the next metadata version.
    Zero data IO at any table size.

    Current reads surface the new names; time travel to any prior
    snapshot keeps that snapshot's own names (``_schema_for_snapshot``
    binds by the snapshot's schema-id); ``read_iceberg_changes``
    ranges crossing the rename surface every row under the range-END
    names (same ids — the changelog's rename rule, r17).

    Refuses: unknown columns, target-name collisions, name-mapped
    tables whose mapping would need rewriting (bridges are renamed by
    their Delta side via ``sync_delta_to_iceberg``), renaming an
    identity-partition source column (the partition spec names it).

    Reference: reference table_schema rename semantics are
    migration-based (lib/ schema migration rewrites rows); Iceberg's
    id-indirection makes the same user action free — the Spark-first
    reshape of that API."""
    p = _norm_path(path)
    meta = _load_metadata(p)
    if (meta.get("properties") or {}).get(_BRIDGE_PROP):
        raise ValueError(
            "this table is a delta→iceberg bridge — rename the DELTA "
            "column (column mapping) and run sync_delta_to_iceberg")
    if (meta.get("properties") or {}).get(
            "schema.name-mapping.default"):
        raise ValueError(
            "rename on a name-mapped (converted) table is not "
            "supported — rewrite the table (rewrite_data_files) to "
            "field-id files first")
    cur_sj = _current_schema(meta)
    by_name = {f["name"]: f for f in cur_sj["fields"]}
    for old in renames:
        if old not in by_name:
            raise ValueError(f"unknown column {old!r}")
    new_names = [renames.get(f["name"], f["name"])
                 for f in cur_sj["fields"]]
    if len(set(new_names)) != len(new_names):
        raise ValueError(f"rename {renames} collides with an "
                         "existing column name")
    part_src = {int(pf["source-id"])
                for s in (meta.get("partition-specs") or [{}])
                for pf in (s.get("fields") or [])}
    for old in renames:
        if int(by_name[old]["id"]) in part_src:
            raise ValueError(
                f"column {old!r} is a partition source — renaming it "
                "would desynchronize the partition spec; re-export")
    schemas = list(meta.get("schemas")
                   or [dict(cur_sj,
                            **{"schema-id":
                               int(meta.get("current-schema-id", 0))})])
    sid = max(int(s.get("schema-id", 0)) for s in schemas) + 1
    new_sj = {"type": "struct", "schema-id": sid,
              "fields": [dict(f, **({"name": renames[f["name"]]}
                                    if f["name"] in renames else {}))
                         for f in cur_sj["fields"]]}
    meta["schemas"] = schemas + [new_sj]
    meta["current-schema-id"] = sid
    if "schema" in meta:
        meta["schema"] = new_sj
    meta["last-updated-ms"] = int(time.time() * 1000)
    mdir = os.path.join(p, "metadata")
    mv = _next_metadata_version(mdir)
    _write_metadata_json(mdir, mv, meta)
    return {"schema_id": sid, "renamed": dict(renames),
            "metadata_version": mv}


def drop_iceberg_column(path: str, columns: list) -> dict:
    """``ALTER TABLE ... DROP COLUMN`` for exported/converted Iceberg
    tables — METADATA-ONLY (spec "Schema Evolution": readers project
    by field id and ignore unlisted columns, so every data file keeps
    its column bytes and zero data moves at any table size): append a
    new schema WITHOUT the fields, point ``current-schema-id`` at it,
    commit the next metadata version.

    Current reads stop surfacing the columns; time travel to any
    prior snapshot keeps them (``_schema_for_snapshot``);
    ``read_iceberg_changes`` ranges crossing the drop surface rows
    under the range-END schema — without the column, the Delta CDF
    latest-schema rule.  NAME-MAPPED (converted) tables are fine: the
    mapping keeps its entry, which older schema-ids still resolve.

    Refuses: bridges (drop the DELTA column and
    ``sync_delta_to_iceberg``), unknown columns, dropping every
    column, partition-source columns (ANY spec — their manifests
    carry typed partition values), and columns a LIVE
    equality-delete file binds (the reader could no longer apply the
    delete; rewrite_data_files first).  The live-delete check decodes
    the current snapshot's manifests — driver-side metadata ∝ file
    count, the same class as every other manifest op here.

    Reference: the reference's schema migration drops by REWRITING
    rows (lib/ migration machinery); Iceberg's id-indirection makes
    the same user action free — the Spark-first reshape."""
    p = _norm_path(path)
    meta = _load_metadata(p)
    if (meta.get("properties") or {}).get(_BRIDGE_PROP):
        raise ValueError(
            "this table is a delta→iceberg bridge — drop the DELTA "
            "column (column mapping) and run sync_delta_to_iceberg")
    cur_sj = _current_schema(meta)
    by_name = {f["name"]: f for f in cur_sj["fields"]}
    cols = list(dict.fromkeys(columns))
    for c in cols:
        if c not in by_name:
            raise ValueError(f"unknown column {c!r}")
    if len(cols) >= len(cur_sj["fields"]):
        raise ValueError("cannot drop every column")
    drop_ids = {int(by_name[c]["id"]) for c in cols}
    pspecs = (meta.get("partition-specs")
              or [{"spec-id": 0,
                   "fields": (meta.get("partition-spec") or [])}])
    srcs = {int(pf["source-id"]) for s in pspecs
            for pf in (s.get("fields") or [])}
    hit = drop_ids & srcs
    if hit:
        raise ValueError(
            f"column(s) with field id(s) {sorted(hit)} are partition "
            "sources — dropping them would orphan the partition "
            "spec; re-export under a new layout")
    snap = _pick_snapshot(meta)
    if snap is not None:
        location = meta.get("location") or p
        _d, _pos, eq_del, _pp, _fs = _scan_files(meta, snap, location)
        live_hit = sorted({i for _fp, _seq, ids in eq_del
                           for i in (ids or []) if i in drop_ids})
        if live_hit:
            raise ValueError(
                f"live equality-delete files bind field id(s) "
                f"{live_hit} — dropping the column would make the "
                "deletes unapplicable; rewrite_data_files first")
    schemas = list(meta.get("schemas")
                   or [dict(cur_sj,
                            **{"schema-id":
                               int(meta.get("current-schema-id", 0))})])
    sid = max(int(s.get("schema-id", 0)) for s in schemas) + 1
    new_sj = {"type": "struct", "schema-id": sid,
              "fields": [dict(f) for f in cur_sj["fields"]
                         if f["name"] not in set(cols)]}
    meta["schemas"] = schemas + [new_sj]
    meta["current-schema-id"] = sid
    if "schema" in meta:
        meta["schema"] = new_sj
    meta["last-updated-ms"] = int(time.time() * 1000)
    mdir = os.path.join(p, "metadata")
    mv = _next_metadata_version(mdir)
    _write_metadata_json(mdir, mv, meta)
    return {"schema_id": sid, "dropped": cols,
            "metadata_version": mv}


def widen_iceberg_column(path: str, changes: dict) -> dict:
    """``ALTER TABLE ... ALTER COLUMN ... TYPE`` (widening) for
    exported/converted Iceberg tables — METADATA-ONLY for the
    spec-legal promotions (``int``→``long``, ``float``→``double``,
    ``decimal(P,S)``→``decimal(P',S)`` with P'≥P): append a new
    schema with the SAME field ids and the promoted types.  Old data
    files keep their narrow physical type; Spark's parquet reader
    upcasts at the scan (both name- and field-id-resolved), so zero
    data moves.  Manifest bounds written before the widen stay
    narrow-encoded — ``_deser_bound`` refutes nothing on a length
    mismatch, so pruning degrades conservatively, never wrongly.

    ``changes`` maps column name → target Iceberg type string (e.g.
    ``{"qty": "long", "price": "decimal(12, 2)"}``).

    Refuses: bridges (widen the DELTA column and sync), unknown
    columns, non-promotion targets, partition-source columns (typed
    partition values).  Time travel keeps each snapshot's own types;
    ``read_iceberg_changes`` ranges crossing the widen surface values
    under the range-END (promoted) type."""
    p = _norm_path(path)
    meta = _load_metadata(p)
    if (meta.get("properties") or {}).get(_BRIDGE_PROP):
        raise ValueError(
            "this table is a delta→iceberg bridge — widen the DELTA "
            "column (type widening) and run sync_delta_to_iceberg")
    cur_sj = _current_schema(meta)
    by_name = {f["name"]: f for f in cur_sj["fields"]}
    norm: dict = {}
    for c, t in changes.items():
        if c not in by_name:
            raise ValueError(f"unknown column {c!r}")
        tgt = str(t).strip()
        m = _DEC_RE.fullmatch(tgt)
        if m:
            tgt = f"decimal({int(m.group(1))}, {int(m.group(2))})"
        cur_t = by_name[c]["type"]
        if tgt == cur_t:
            continue
        if not _ice_type_widens(cur_t, tgt):
            raise ValueError(
                f"{cur_t!r} → {tgt!r} is not a spec-legal Iceberg "
                "promotion (int→long, float→double, decimal "
                "precision widening with the same scale)")
        norm[c] = tgt
    if not norm:
        return {"schema_id": int(meta.get("current-schema-id", 0)),
                "widened": {}, "metadata_version": None}
    pspecs = (meta.get("partition-specs")
              or [{"spec-id": 0,
                   "fields": (meta.get("partition-spec") or [])}])
    srcs = {int(pf["source-id"]) for s in pspecs
            for pf in (s.get("fields") or [])}
    for c in norm:
        if int(by_name[c]["id"]) in srcs:
            raise ValueError(
                f"column {c!r} is a partition source — its manifest "
                "partition values are typed; re-export")
    schemas = list(meta.get("schemas")
                   or [dict(cur_sj,
                            **{"schema-id":
                               int(meta.get("current-schema-id", 0))})])
    sid = max(int(s.get("schema-id", 0)) for s in schemas) + 1
    new_sj = {"type": "struct", "schema-id": sid,
              "fields": [dict(f, **({"type": norm[f["name"]]}
                                    if f["name"] in norm else {}))
                         for f in cur_sj["fields"]]}
    meta["schemas"] = schemas + [new_sj]
    meta["current-schema-id"] = sid
    if "schema" in meta:
        meta["schema"] = new_sj
    meta["last-updated-ms"] = int(time.time() * 1000)
    mdir = os.path.join(p, "metadata")
    mv = _next_metadata_version(mdir)
    _write_metadata_json(mdir, mv, meta)
    return {"schema_id": sid, "widened": dict(norm),
            "metadata_version": mv}


def expire_snapshots(path: str, keep_last: int = 1,
                     dry_run: bool = False) -> dict:
    """Iceberg ``expireSnapshots`` for exports: drop all but the
    newest ``keep_last`` snapshots from the table metadata (committed
    as the next metadata version, so the change is itself atomic and
    foreign readers following ``version-hint`` never see a torn
    state), then delete every data / delete / manifest / manifest-list
    file referenced ONLY by the expired snapshots.  Retained snapshots
    keep time-traveling exactly; replaying an expired snapshot id
    refuses at ``_pick_snapshot`` — the same contract as Iceberg's own
    maintenance action.  Returns ``{"expired", "deleted", "kept"}``."""
    p = _norm_path(path)
    meta = _load_metadata(p)
    snaps = list(meta.get("snapshots") or [])
    if len(snaps) <= max(int(keep_last), 1):
        return {"expired": [], "deleted": [], "kept": len(snaps)}
    snaps_sorted = sorted(snaps, key=lambda s: (s.get("sequence-number",
                                                      0),
                                                s["snapshot-id"]))
    keep_snaps = snaps_sorted[-max(int(keep_last), 1):]
    # named refs RETAIN their snapshots (the Iceberg maintenance
    # contract: expire never dangles a branch/tag)
    ref_ids = {r.get("snapshot-id")
               for r in (meta.get("refs") or {}).values()}
    kept_ids = {s["snapshot-id"] for s in keep_snaps}
    keep_snaps += [s for s in snaps_sorted
                   if s["snapshot-id"] in ref_ids
                   and s["snapshot-id"] not in kept_ids]
    cur = meta.get("current-snapshot-id")
    if cur is not None and cur not in {s["snapshot-id"]
                                       for s in keep_snaps}:
        raise ValueError("expire_snapshots would drop the CURRENT "
                         "snapshot — keep_last too small")
    expired = [s for s in snaps_sorted
               if s["snapshot-id"] not in {k["snapshot-id"]
                                           for k in keep_snaps}]

    def _refs(snapshot):
        """Every absolute file path a snapshot references."""
        out = set()
        ml = snapshot.get("manifest-list")
        location = meta.get("location") or p

        def _abs(x):
            x = _norm_path(x)
            return x if os.path.isabs(x) else \
                os.path.join(_norm_path(location), x)
        if ml:
            out.add(_abs(ml))
            _, entries = read_container_file(_abs(ml))
            for m in entries:
                out.add(_abs(m["manifest_path"]))
                _, mes = read_container_file(_abs(m["manifest_path"]))
                for e in mes:
                    out.add(_abs(e["data_file"]["file_path"]))
        return out

    kept_refs: set = set()
    for s in keep_snaps:
        kept_refs |= _refs(s)
    doomed: set = set()
    for s in expired:
        doomed |= _refs(s) - kept_refs
    exp_ids = [s["snapshot-id"] for s in expired]
    if not dry_run:
        meta["snapshots"] = keep_snaps
        meta["snapshot-log"] = [
            e for e in (meta.get("snapshot-log") or [])
            if e.get("snapshot-id") not in set(exp_ids)]
        mdir = os.path.join(p, "metadata")
        _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
        for f in sorted(doomed):
            try:
                os.unlink(f)
            except OSError:
                pass
    return {"expired": exp_ids, "deleted": sorted(doomed),
            "kept": len(keep_snaps)}


def read_iceberg_meta(spark, path: str, kind: str = "snapshots",
                      snapshot_id=None, as_of_ms=None, ref=None):
    """Iceberg METADATA TABLES for exported/foreign tables — the
    inspection surface engines expose as ``table$snapshots`` /
    ``$history`` / ``$refs`` / ``$manifests`` / ``$files`` /
    ``$partitions`` (spec "Metadata tables"; reference parity:
    tostore's table_stats/admin introspection, surfaced for the open
    formats).  Returns a DataFrame:

    - ``snapshots``: committed_at, snapshot_id, parent_id, operation,
      summary (map), manifest_list — every snapshot in the metadata.
    - ``history``: made_current_at, snapshot_id, parent_id,
      is_current_ancestor — the snapshot log with main-ancestry flags
      (the spec's rollback-visibility rule).
    - ``refs``: name, type, snapshot_id.
    - ``manifests``: content, path, length, partition_spec_id,
      added_snapshot_id + the six file/row counts — the CHOSEN
      snapshot's manifest list (``snapshot_id`` / ``as_of_ms`` /
      ``ref`` select it; default current).
    - ``files``: content (0=data, 1=position deletes, 2=equality
      deletes), file_path, file_format, spec_id, partition (map,
      values stringified — stable schema across partition specs),
      record_count, file_size_in_bytes, sequence_number — LIVE
      entries of the chosen snapshot.
    - ``partitions``: partition, spec_id, record_count,
      file_count, position_delete_file_count,
      equality_delete_file_count — data-file aggregates per
      partition tuple (record_count counts PHYSICAL rows, before
      merge-on-read deletes apply — the spec's partitions-table
      semantics).

    Scale: every kind is manifest-scale DRIVER work — the metadata
    JSON for snapshots/history/refs, one manifest-list read for
    manifests, manifest decodes (∝ live file count) for
    files/partitions; row data is never touched."""
    from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                                   MapType, StringType, StructField,
                                   StructType, TimestampType)
    import datetime as _dt

    p = _norm_path(path)
    meta = _load_metadata(p)
    location = meta.get("location") or p

    def _abs(x):
        x = _norm_path(x)
        return x if os.path.isabs(x) else \
            os.path.join(_norm_path(location), x)

    def _ts(ms):
        return _dt.datetime.fromtimestamp(int(ms) / 1000.0,
                                          _dt.timezone.utc) \
            .replace(tzinfo=None)

    snaps = meta.get("snapshots") or []
    if kind == "snapshots":
        schema = StructType([
            StructField("committed_at", TimestampType()),
            StructField("snapshot_id", LongType()),
            StructField("parent_id", LongType()),
            StructField("operation", StringType()),
            StructField("summary", MapType(StringType(),
                                           StringType())),
            StructField("manifest_list", StringType())])
        rows = [(_ts(s["timestamp-ms"]), int(s["snapshot-id"]),
                 (int(s["parent-snapshot-id"])
                  if s.get("parent-snapshot-id") is not None
                  else None),
                 (s.get("summary") or {}).get("operation"),
                 {k: str(v) for k, v in (s.get("summary") or {})
                  .items() if k != "operation"},
                 s.get("manifest-list"))
                for s in snaps]
        return local_df(spark, rows, schema)
    if kind == "history":
        ancestry = set()
        by_id = {s["snapshot-id"]: s for s in snaps}
        cur = meta.get("current-snapshot-id")
        while cur in by_id:
            ancestry.add(cur)
            cur = by_id[cur].get("parent-snapshot-id")
        schema = StructType([
            StructField("made_current_at", TimestampType()),
            StructField("snapshot_id", LongType()),
            StructField("parent_id", LongType()),
            StructField("is_current_ancestor", BooleanType())])
        rows = []
        for e in (meta.get("snapshot-log") or []):
            s = by_id.get(e.get("snapshot-id"))
            rows.append((_ts(e["timestamp-ms"]),
                         int(e["snapshot-id"]),
                         (int(s["parent-snapshot-id"])
                          if s is not None and
                          s.get("parent-snapshot-id") is not None
                          else None),
                         e.get("snapshot-id") in ancestry))
        return local_df(spark, rows, schema)
    if kind == "refs":
        schema = StructType([
            StructField("name", StringType()),
            StructField("type", StringType()),
            StructField("snapshot_id", LongType())])
        rows = [(name, (r.get("type") or "branch").upper(),
                 int(r["snapshot-id"]))
                for name, r in sorted((meta.get("refs")
                                       or {}).items())
                if "snapshot-id" in r]
        return local_df(spark, rows, schema)

    snap = _pick_snapshot(meta, snapshot_id=snapshot_id,
                          as_of_ms=as_of_ms, ref=ref)
    mlist = []
    if snap is not None and snap.get("manifest-list"):
        _, mlist = read_container_file(_abs(snap["manifest-list"]))
    if kind == "manifests":
        schema = StructType([
            StructField("content", IntegerType()),
            StructField("path", StringType()),
            StructField("length", LongType()),
            StructField("partition_spec_id", IntegerType()),
            StructField("added_snapshot_id", LongType()),
            StructField("added_data_files_count", IntegerType()),
            StructField("existing_data_files_count", IntegerType()),
            StructField("deleted_data_files_count", IntegerType()),
            StructField("added_rows_count", LongType()),
            StructField("existing_rows_count", LongType()),
            StructField("deleted_rows_count", LongType())])
        rows = [(int(m.get("content") or 0), m["manifest_path"],
                 int(m.get("manifest_length") or 0),
                 int(m.get("partition_spec_id") or 0),
                 int(m.get("added_snapshot_id") or 0),
                 int(m.get("added_files_count") or 0),
                 int(m.get("existing_files_count") or 0),
                 int(m.get("deleted_files_count") or 0),
                 int(m.get("added_rows_count") or 0),
                 int(m.get("existing_rows_count") or 0),
                 int(m.get("deleted_rows_count") or 0))
                for m in mlist]
        return local_df(spark, rows, schema)
    if kind in ("files", "partitions"):
        frows = []
        for m in mlist:
            mseq = int(m.get("sequence_number") or 0)
            m_sid = int(m.get("partition_spec_id") or 0)
            _, entries = read_container_file(
                _abs(m["manifest_path"]))
            for e in entries:
                if e.get("status") == 2:
                    continue
                df_ = e["data_file"]
                seq = e.get("sequence_number")
                frows.append((
                    int(df_.get("content") or 0),
                    _abs(df_["file_path"]),
                    df_.get("file_format") or "PARQUET",
                    m_sid,
                    {k: (None if v is None else str(v))
                     for k, v in (df_.get("partition")
                                  or {}).items()},
                    int(df_["record_count"]),
                    int(df_.get("file_size_in_bytes") or 0),
                    int(seq) if seq is not None else mseq))
        if kind == "files":
            schema = StructType([
                StructField("content", IntegerType()),
                StructField("file_path", StringType()),
                StructField("file_format", StringType()),
                StructField("spec_id", IntegerType()),
                StructField("partition",
                            MapType(StringType(), StringType())),
                StructField("record_count", LongType()),
                StructField("file_size_in_bytes", LongType()),
                StructField("sequence_number", LongType())])
            return local_df(spark, frows, schema)
        agg: dict = {}
        for (content, _fp, _ff, sid, part, rc, _sz, _seq) in frows:
            key = (sid, tuple(sorted(part.items())))
            a = agg.setdefault(key, {"rows": 0, "files": 0,
                                     "pos": 0, "eq": 0})
            if content == 0:
                a["rows"] += rc
                a["files"] += 1
            elif content == 1:
                a["pos"] += 1
            elif content == 2:
                a["eq"] += 1
        schema = StructType([
            StructField("partition",
                        MapType(StringType(), StringType())),
            StructField("spec_id", IntegerType()),
            StructField("record_count", LongType()),
            StructField("file_count", IntegerType()),
            StructField("position_delete_file_count", IntegerType()),
            StructField("equality_delete_file_count", IntegerType())])
        rows = [(dict(part), sid, a["rows"], a["files"], a["pos"],
                 a["eq"])
                for (sid, part), a in sorted(
                    agg.items(), key=lambda kv: (kv[0][0],
                                                 str(kv[0][1])))]
        return local_df(spark, rows, schema)
    raise ValueError(
        f"unknown iceberg metadata table {kind!r} — one of snapshots,"
        " history, refs, manifests, files, partitions")


def remove_orphan_files(path: str, older_than_ms: int | None = None,
                        dry_run: bool = False) -> dict:
    """Iceberg ``removeOrphanFiles`` for exports: delete parquet files
    under the table's ``data/`` directory that NO retained snapshot
    references — the debris of crashed exports/compactions (staged
    data or delete files whose commit never claimed a metadata
    version).  ``older_than_ms`` keeps anything younger (epoch-ms
    mtime cutoff; pass None to consider every candidate — the
    in-flight-writer guard real deployments set to now-3d).

    Scope is deliberately NARROW: only ``data/*.parquet`` candidates,
    and a directory that is ALSO a Delta table (a UniForm bridge)
    refuses — the Delta log references generations Iceberg does not,
    so use ``vacuum_delta`` + ``expire_snapshots`` there.  Referenced
    paths are walked from EVERY retained snapshot (manifest lists →
    manifests → file paths), the same metadata-scale driver walk as
    ``expire_snapshots``.  Returns {"removed", "kept", "scanned"}."""
    p = _norm_path(path)
    if os.path.isdir(os.path.join(p, "_delta_log")):
        raise ValueError(
            "remove_orphan_files on a UniForm bridge/Delta directory "
            "is unsafe (the Delta log references files Iceberg does "
            "not) — use vacuum_delta + expire_snapshots instead")
    meta = _load_metadata(p)
    location = meta.get("location") or p

    def _abs(x):
        x = _norm_path(x)
        return x if os.path.isabs(x) else \
            os.path.join(_norm_path(location), x)
    referenced: set = set()
    for s in (meta.get("snapshots") or []):
        ml = s.get("manifest-list")
        if not ml:
            continue
        _, entries = read_container_file(_abs(ml))
        for m in entries:
            _, mes = read_container_file(_abs(m["manifest_path"]))
            for e in mes:
                referenced.add(_abs(e["data_file"]["file_path"]))
    ddir = os.path.join(p, "data")
    removed, kept, scanned = [], 0, 0
    for root, dirs, files in os.walk(ddir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            scanned += 1
            if _norm_path(fp) in referenced:
                kept += 1
                continue
            if older_than_ms is not None and \
                    os.path.getmtime(fp) * 1000 >= older_than_ms:
                kept += 1
                continue
            removed.append(fp)
            if not dry_run:
                os.unlink(fp)
    return {"removed": sorted(removed), "kept": kept,
            "scanned": scanned}


# ------------------------------------------------------------- changelog

_CHANGES_BARRIER = 16           # chain parts per pin
                                # barrier in the changelog fold — a
                                # bootstrap over N snapshots analyzes
                                # ≤16-way unions, never an N-way plan
_CHANGES_FILE_CAP = 50_000      # distinct data files one position-
                                # delete snapshot may touch (driver list)


def _snapshot_additions(meta: dict, snapshot: dict, location: str):
    """What one snapshot ADDED: walk its manifest list and return
    ``(data, pos_del, eq_del, parts, fstats, has_deleted,
    manifest_paths)`` where the first five mirror ``_scan_files`` but
    cover ONLY manifests this snapshot added (``added_snapshot_id``),
    ``has_deleted`` flags any status-DELETED entry in them, and
    ``manifest_paths`` is the full set of manifest paths the snapshot
    references (for the parent-survival check)."""
    def _abs(p):
        p = _norm_path(p)
        if not os.path.isabs(p):
            p = os.path.join(_norm_path(location), p)
        return p

    sid = snapshot["snapshot-id"]
    if not snapshot.get("manifest-list"):
        raise ValueError("iceberg changelog needs v2 manifest lists")
    _, mlist = read_container_file(_abs(snapshot["manifest-list"]))
    data, pos_del, eq_del = [], [], []
    parts: dict[str, dict] = {}
    fstats: dict[str, dict] = {}
    has_deleted = False
    man_paths = {_abs(m["manifest_path"]) for m in mlist}
    for m in mlist:
        if m.get("added_snapshot_id") != sid:
            continue
        mseq = m.get("sequence_number") or 0
        _, entries = read_container_file(_abs(m["manifest_path"]))
        for e in entries:
            st = e.get("status")
            if st == 2:
                has_deleted = True
                continue
            if st != 1:
                continue            # EXISTING re-listings: not changes
            df_ = e["data_file"]
            seq = e.get("sequence_number")
            if seq is None:
                seq = mseq
            fpath = _abs(df_["file_path"])
            content = df_.get("content", 0)
            if content == 0:
                data.append((fpath, seq))
                parts[fpath] = dict(df_.get("partition") or {})
                stx = _entry_stats(df_)
                if stx is not None:
                    fstats[fpath] = stx
            elif content == 1:
                pos_del.append((fpath, seq))
            elif content == 2:
                eq_del.append((fpath, seq,
                               list(df_.get("equality_ids") or [])))
    return data, pos_del, eq_del, parts, fstats, has_deleted, man_paths


def read_iceberg_changes(spark, path: str,
                         from_snapshot: int | None = None,
                         to_snapshot: int | None = None,
                         where=None):
    """Iceberg INCREMENTAL / CHANGELOG read — the consumer interface
    ``read_delta_cdf`` gives Delta tables (same per-commit fold, same
    output shape): every row is one change carrying ``_change_type``
    (``insert`` / ``delete``), ``_commit_snapshot_id``,
    ``_commit_version`` (the snapshot's SEQUENCE NUMBER — the
    monotonic cursor a subscriber stores) and ``_commit_timestamp``.

    Range: the MAIN-ancestry snapshots AFTER ``from_snapshot``
    (exclusive; ``None`` = from the first snapshot, i.e. the full
    history incl. the bootstrap as inserts) up TO ``to_snapshot``
    (inclusive; ``None`` = current).  ``from_snapshot`` must be an
    ancestor of ``to_snapshot`` — diverged refs cannot be folded.

    Per-snapshot derivation (spec "Incremental Scan", extended to the
    merge-on-read delete snapshots this exporter writes):

    - ``append``    → ``insert`` rows from the snapshot's ADDED data
      files (manifests with this ``added_snapshot_id``, entries with
      status ADDED);
    - ``delete``    → ``delete`` pre-image rows from its ADDED delete
      files: POSITION deletes read ONLY the referenced data files at
      the recorded positions, minus positions already dead under the
      parent's delete files (a spec-legal re-kill must not re-surface
      a row that observers already saw die); EQUALITY deletes probe
      the PARENT snapshot's live rows for the matching keys (a
      semi-join against the broadcast-scale key frame);
    - ``overwrite`` → derivable ONLY in the merge-on-read shape (every
      parent manifest survives into the snapshot's manifest list and
      no entry is status-DELETED): adds become inserts, added delete
      files become deletes.  A true rewrite refuses — deriving it
      would need the whole-snapshot diff a changelog exists to avoid;
    - ``replace``   → compaction: the logical table is unchanged;
      contributes nothing (the spec requires changelog readers to
      skip it).

    ``where`` (the engine predicate language) filters the FEED;
    derivable appends additionally prune their added files by manifest
    column bounds before Spark lists them.  Name-mapped (converted)
    tables refuse — their id-less files cannot be late-bound safely;
    bootstrap those via ``read_iceberg`` and subscribe after a
    rewrite.

    Scale: cost ∝ the range's added files (appends) + touched files
    (position deletes) + one key-probe of the parent per
    equality-delete snapshot — NEVER a snapshot diff; manifest work is
    driver-side metadata ∝ file count, exactly like the Delta log
    fold.

    The returned feed is EAGERLY MATERIALIZED (an eager ``pin``
    inside the fold, r16): per-snapshot schema binding pins session
    confs that must be restored before returning, and the barriered
    fold caps plan depth across long histories.  Consequences callers
    must budget for: (a) the FULL range's IO and executor storage are
    paid at call time, even if only ``limit(1)`` or the schema is
    consumed — slice with ``from_snapshot``/``to_snapshot`` rather
    than lazy row pruning; (b) checkpointed blocks live in executor
    storage and do NOT survive executor loss — on a shared cluster,
    consume (or persist) the feed promptly rather than holding it
    across long idle gaps.  Reference: delta_export.read_delta_cdf
    (the Delta twin); Iceberg Table Spec "Incremental Scan" /
    "Row-level deletes"."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType, TimestampType)

    p = _norm_path(path)
    meta = _load_metadata(p)
    if (meta.get("properties") or {}).get(
            "schema.name-mapping.default"):
        raise ValueError(
            "read_iceberg_changes on a name-mapped (converted) table "
            "is not supported — bootstrap from read_iceberg and "
            "subscribe after a rewrite")
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    cur = _pick_snapshot(meta)
    if to_snapshot is None:
        if cur is None:
            raise ValueError(f"{p} has no snapshots")
        to_id = cur["snapshot-id"]
    else:
        to_id = int(to_snapshot)
        if to_id not in snaps:
            raise ValueError(f"snapshot {to_id} not found")

    # range-END schema: the CURRENT table schema when the caller asked
    # for "up to now" (a metadata-only rename after the last snapshot
    # must already surface — same rule as read_iceberg's current
    # read); an explicit to_snapshot binds that snapshot's schema
    if to_snapshot is None:
        end_schema_json = _current_schema(meta)
    else:
        end_schema_json = _schema_for_snapshot(meta, snaps[to_id])
    sschema = _schema_to_spark(end_schema_json)
    meta_fields = [StructField("_change_type", StringType()),
                   StructField("_commit_snapshot_id", LongType()),
                   StructField("_commit_version", LongType()),
                   StructField("_commit_timestamp", TimestampType())]
    out_cols = ([f.name for f in sschema.fields]
                + [f.name for f in meta_fields])

    node = None
    if where is not None:
        from tostore_spark.compile import coerce_where_values
        from tostore_spark.condition import to_condition_node
        node = to_condition_node(where)
        if node is not None and node.is_empty():
            node = None
        if node is not None:
            node = coerce_where_values(node, sschema)

    def _empty():
        return local_df(spark, 
            [], StructType(list(sschema.fields) + meta_fields))

    # main-ancestry chain: to_id back to (exclusive) from_snapshot
    chain = []
    if from_snapshot is not None and int(from_snapshot) == to_id:
        return _empty()
    node_id = to_id
    while True:
        s = snaps[node_id]
        chain.append(s)
        parent = s.get("parent-snapshot-id")
        if from_snapshot is not None and parent == int(from_snapshot):
            break
        if parent is None:
            if from_snapshot is not None:
                raise ValueError(
                    f"snapshot {from_snapshot} is not an ancestor of "
                    f"{to_id} — cannot fold changes across diverged "
                    "or expired history")
            break
        if parent not in snaps:
            raise ValueError(
                f"parent snapshot {parent} has been expired — the "
                "changelog cannot replay through missing history")
        node_id = parent
    chain.reverse()                     # oldest → newest
    location = meta.get("location") or p
    norm_file = F.regexp_replace(F.col("_metadata.file_path"),
                                 "^file:/*", "/")

    def _pad_end(df):
        """Columns the END schema added after a frame's snapshot
        null-fill — the feed always surfaces under the range-END
        schema (the Delta CDF rule)."""
        for f in sschema.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name,
                                   F.lit(None).cast(f.dataType))
        return df

    def _check_schema_compat(snap):
        """Additive + RENAME + DROP + WIDEN evolution (r17): a field
        of the snapshot's schema must either survive IN the range-END
        schema under the same id with the same-or-PROMOTED type, or be
        absent from it entirely (DROPPED — the row simply surfaces
        without it, the Delta CDF latest-schema rule; an
        equality-delete file that binds a dropped id refuses at
        derivation).  Field ids are the identity: the fold reads every
        file through the END schema's id-carrying read schema, so
        pre-rename rows surface under the range-END names and
        pre-widen files upcast at the parquet scan.  A NON-WIDENING
        retype refuses — its values cannot surface under the END
        schema without lying."""
        sj = _schema_for_snapshot(meta, snap)
        if sj.get("schema-id", 0) == \
                end_schema_json.get("schema-id", 0):
            return
        end_by_id = {int(f["id"]): f
                     for f in end_schema_json["fields"]}
        for f in sj["fields"]:
            e = end_by_id.get(int(f["id"]))
            if e is None:
                continue
            if not _ice_type_widens(f["type"], e["type"]):
                raise ValueError(
                    f"snapshot {snap['snapshot-id']} was written "
                    f"under schema-id {sj.get('schema-id', 0)} whose "
                    f"field {f['name']!r} (id {f['id']}) was retyped "
                    f"({f['type']!r} → {e['type']!r}, not a legal "
                    "promotion) by the range-end schema — only "
                    "ADD / RENAME / DROP / WIDENING evolution is "
                    "derivable; re-bootstrap the consumer from "
                    "read_iceberg")

    def _tag(df, snap, change):
        # cast to the END types: a pre-widen part (read under a
        # narrower parent schema) must surface under the range-END
        # promoted type, not ride union coercion
        df = _pad_end(df)
        return (df.select(*[F.col(f.name).cast(f.dataType)
                            .alias(f.name) for f in sschema.fields])
                .withColumn("_change_type", F.lit(change))
                .withColumn("_commit_snapshot_id",
                            F.lit(int(snap["snapshot-id"]))
                            .cast("long"))
                .withColumn("_commit_version",
                            F.lit(int(snap.get("sequence-number", 0)))
                            .cast("long"))
                .withColumn("_commit_timestamp",
                            F.timestamp_millis(
                                F.lit(int(snap["timestamp-ms"])))))

    def _pos_preimages(snap, pos_add):
        """Pre-image rows for one snapshot's position-delete files.
        Positions already DEAD at the parent snapshot (under its
        position OR equality delete files) are excluded — a spec-legal
        re-kill must not re-surface a row observers already saw
        die."""
        dels = (spark.read.parquet(*[fp for fp, _seq in pos_add])
                .select(F.regexp_replace("file_path", "^file:/*", "/")
                        .alias("__f"),
                        F.col("pos").cast("long").alias("__p")))
        parent_id = snap.get("parent-snapshot-id")
        if parent_id is not None and parent_id not in snaps:
            # same treatment as _eq_preimages: without a readable
            # parent the re-kill suppression cannot run, and skipping
            # it would re-surface rows observers already saw die
            raise ValueError(
                f"snapshot {snap['snapshot-id']} carries position "
                "deletes but its parent has been expired — pre-image "
                "suppression cannot be derived; re-bootstrap the "
                "consumer from read_iceberg")
        pdata, ppos, ped, _pp, _fs = [], [], [], {}, {}
        if parent_id is not None and parent_id in snaps:
            pdata, ppos, ped, _pp, _fs = _scan_files(
                meta, snaps[parent_id], location)
            if ppos:
                old = (spark.read.parquet(*[fp for fp, _s in ppos])
                       .select(F.regexp_replace("file_path",
                                                "^file:/*", "/")
                               .alias("__f"),
                               F.col("pos").cast("long").alias("__p")))
                dels = dels.join(old, on=["__f", "__p"], how="left_anti")
        tgt = [r["__f"] for r in
               dels.select("__f").distinct()
               .limit(_CHANGES_FILE_CAP + 1).collect()]
        if len(tgt) > _CHANGES_FILE_CAP:
            raise ValueError(
                "position-delete snapshot touches more than "
                f"{_CHANGES_FILE_CAP} data files — over the driver "
                "list bound")
        if node is not None and tgt:
            # FILTERED feed: a touched file whose parent stats refute
            # the predicate cannot contribute a pre-image the final
            # row filter would keep — prune it before Spark reads it
            # (same manifest-bounds machinery as the append prune);
            # files without parent stats stay, conservatively
            seq_of = dict(pdata)
            cand = [(fp, seq_of[fp]) for fp in tgt if fp in seq_of]
            kept = _prune_by_stats(meta, end_schema_json, cand,
                                   _pp, _fs, node)
            keep_set = {fp for fp, _s in kept} | {
                fp for fp in tgt if fp not in seq_of}
            tgt = [fp for fp in tgt if fp in keep_set]
        if not tgt:
            return None
        frame = (spark.read.schema(sschema).parquet(*sorted(tgt))
                 .select(*[f.name for f in sschema.fields],
                         norm_file.alias("__f"),
                         F.col("_metadata.row_index").alias("__p")))
        pre = frame.join(dels, on=["__f", "__p"], how="inner")
        if ped:
            # rows the PARENT's equality deletes already killed: same
            # application rule as read_iceberg (value match + strictly
            # older data sequence)
            seq_rows = [(fp, int(seq)) for fp, seq in pdata
                        if fp in set(tgt)]
            seq_df = local_df(spark, 
                seq_rows, "__f string, __dseq long")
            pre = pre.join(seq_df, on="__f", how="left")
            id_to_name = {f["id"]: f["name"]
                          for f in end_schema_json["fields"]}
            sfields = {f.name: f for f in sschema.fields}
            by_ids: dict[tuple, list] = {}
            for fp, dseq, ids in ped:
                by_ids.setdefault(tuple(sorted(ids)), []) \
                    .append((fp, dseq))
            for ids, fps in sorted(by_ids.items()):
                missing = [i for i in ids if i not in id_to_name]
                if missing:
                    raise ValueError(
                        "parent equality-delete file binds field "
                        f"id(s) {missing} the range-end schema "
                        "dropped — re-kill suppression cannot be "
                        "derived; re-bootstrap the consumer from "
                        "read_iceberg")
                cols = [id_to_name[i] for i in ids]
                dschema = StructType([sfields[c] for c in cols])
                keys = None
                for fp, dseq in fps:
                    k = (spark.read.schema(dschema).parquet(fp)
                         .select(*[F.col(c).alias(f"__eq_{c}")
                                   for c in cols],
                                 F.lit(int(dseq)).alias("__del_seq")))
                    keys = k if keys is None else keys.unionByName(k)
                cond = [pre[c].eqNullSafe(keys[f"__eq_{c}"])
                        for c in cols]
                cond.append(keys["__del_seq"] > pre["__dseq"])
                pre = pre.join(keys, on=cond, how="left_anti")
            pre = pre.drop("__dseq")
        return pre

    def _eq_preimages(snap, eq_add):
        """Pre-image rows for equality-delete files: the parent
        snapshot's live rows matching the key tuples.  The parent
        probe is narrowed by the KEY FRAME'S BOUNDS (single-column
        groups): read_iceberg(where = key BETWEEN min..max) prunes
        parent files through manifest bounds before Spark lists them,
        so on a clustered table a 100-key delete pull reads the
        matching files, not the parent — the semi-join keeps the
        result exact either way."""
        parent_id = snap.get("parent-snapshot-id")
        if parent_id is None or parent_id not in snaps:
            raise ValueError(
                "equality-delete snapshot without a readable parent — "
                "pre-images cannot be derived")
        id_to_name = {f["id"]: f["name"]
                      for f in end_schema_json["fields"]}
        sfields = {f.name: f for f in sschema.fields}
        # the parent probe runs under the PARENT snapshot's own
        # schema; across a mid-range RENAME (r17) its column names
        # differ from the END names — probe in parent-name space,
        # surface the pre-images under the END names by field id
        parent_sj = _schema_for_snapshot(meta, snaps[parent_id])
        pid_to_name = {int(f["id"]): f["name"]
                       for f in parent_sj["fields"]}
        renamed = any(pid_to_name.get(int(f["id"]), f["name"])
                      != f["name"]
                      for f in end_schema_json["fields"])
        out = None
        by_ids: dict[tuple, list] = {}
        for fp, _seq, ids in eq_add:
            if not ids:
                raise ValueError("equality-delete file without "
                                 "equality_ids")
            by_ids.setdefault(tuple(sorted(ids)), []).append(fp)
        for ids, fps in sorted(by_ids.items()):
            missing = [i for i in ids if i not in id_to_name]
            if missing:
                raise ValueError(
                    f"equality-delete file binds field id(s) "
                    f"{missing} the range-end schema dropped — its "
                    "pre-images cannot surface; re-bootstrap the "
                    "consumer from read_iceberg")
            cols = [id_to_name[i] for i in ids]          # END names
            pcols_ = [pid_to_name.get(i, id_to_name[i])  # parent names
                      for i in ids]
            dschema = StructType([sfields[c] for c in cols])
            keys = (spark.read.schema(dschema).parquet(*sorted(fps))
                    .distinct())
            if renamed:
                keys = keys.select(*[F.col(c).alias(pc) for c, pc
                                     in zip(cols, pcols_)])
            pfields = {pc: StructField(pc, sfields[c].dataType,
                                       sfields[c].nullable)
                       for c, pc in zip(cols, pcols_)}
            # composite keys AND their per-column BETWEEN bounds (a
            # matching row must sit inside every column's key range).
            # skip_tz: this predicate doubles as read_iceberg's ROW
            # filter, where a naive timestamp literal rides the
            # session timezone — tz-aware key columns contribute no
            # conjunct (shared helper with the Delta DV probe, whose
            # stats-only use keeps them via unix_micros)
            probe_where = key_bounds_where(keys, pfields,
                                           skip_tz=True)
            if node is not None and not renamed:
                # FILTERED feed: AND the caller's predicate into the
                # parent probe — pre-images the final row filter
                # would drop never leave the manifest level.  Across
                # a rename the node's END names would mis-bind on the
                # parent — skip the pushdown (the final feed filter
                # keeps the result exact; the probe just reads more)
                from tostore_spark.condition import (ConditionNode,
                                                     to_condition_node)
                pw = to_condition_node(probe_where) \
                    if probe_where is not None else None
                kids = [c for c in (node, pw) if c is not None]
                probe_where = ConditionNode("and", children=kids)
            parent_rows = read_iceberg(spark, p,
                                       snapshot_id=parent_id,
                                       where=probe_where)
            # null-safe match: the reader applies equality deletes
            # with eqNullSafe — the pre-image derivation must agree
            kren = keys.select(*[F.col(pc).alias(f"__k_{pc}")
                                 for pc in pcols_])
            cond = [parent_rows[pc].eqNullSafe(kren[f"__k_{pc}"])
                    for pc in pcols_]
            part = parent_rows.join(kren, on=cond,
                                    how="leftsemi")
            if renamed:
                for f in end_schema_json["fields"]:
                    pn = pid_to_name.get(int(f["id"]))
                    if pn is not None and pn != f["name"]:
                        part = part.withColumnRenamed(pn, f["name"])
            out = part if out is None else out.unionByName(part)
        return out

    segs: list = []
    cur = None
    cur_n = 0

    def _add_part(part):
        """Accumulate one snapshot's change frame; every
        ``_CHANGES_BARRIER`` parts the running union folds into a
        materialized (eagerly pinned) segment, so a long-history
        bootstrap never builds an O(history)-way union plan and
        earlier segments are never re-derived while later ones
        fold."""
        nonlocal cur, cur_n
        cur = part if cur is None else cur.unionByName(part)
        cur_n += 1
        if cur_n >= _CHANGES_BARRIER:
            segs.append(pin(cur, eager=True))
            cur = None
            cur_n = 0

    def _fold_chain():
        for snap in chain:
            op = (snap.get("summary") or {}).get("operation")
            if op == "replace":
                continue                    # compaction: logical no-op
            _check_schema_compat(snap)
            (adds, pos_add, eq_add, parts, fstats,
             has_deleted, man_paths) = _snapshot_additions(
                meta, snap, location)
            parent_id = snap.get("parent-snapshot-id")

            def _parent_survives():
                """Every parent manifest still referenced — nothing was
                (even implicitly) dropped by this snapshot."""
                if parent_id is None or parent_id not in snaps:
                    return parent_id is None
                pml = snaps[parent_id].get("manifest-list")
                if not pml:
                    return False

                def _abs(x):
                    x = _norm_path(x)
                    return x if os.path.isabs(x) else os.path.join(
                        _norm_path(location), x)
                _, pml_entries = read_container_file(_abs(pml))
                return {_abs(m["manifest_path"])
                        for m in pml_entries} <= man_paths

            if op == "overwrite":
                # derivable only in the merge-on-read shape: parent's
                # manifests all survive and nothing is status-DELETED
                if has_deleted or not _parent_survives():
                    raise ValueError(
                        f"snapshot {snap['snapshot-id']} is a rewrite "
                        "(overwrite) — its changes cannot be derived; "
                        "re-bootstrap the consumer from read_iceberg")
            elif op == "append":
                if pos_add or eq_add or has_deleted:
                    raise ValueError(
                        f"snapshot {snap['snapshot-id']} claims 'append' "
                        "but carries deletes — refusing an inconsistent "
                        "summary")
                if not _parent_survives():
                    raise ValueError(
                        f"snapshot {snap['snapshot-id']} claims 'append' "
                        "but drops parent manifests — deriving it as "
                        "inserts would miss the removals")
            elif op == "delete":
                if adds:
                    raise ValueError(
                        f"snapshot {snap['snapshot-id']} claims 'delete' "
                        "but adds data files — refusing an inconsistent "
                        "summary")
                if has_deleted or not _parent_survives():
                    raise ValueError(
                        f"snapshot {snap['snapshot-id']} drops whole "
                        "data files/manifests — only merge-on-read "
                        "delete-file snapshots are derivable")
            else:
                raise ValueError(
                    f"snapshot {snap['snapshot-id']} has unknown "
                    f"operation {op!r} — cannot derive its changes")

            if adds:
                keep = adds
                if node is not None:
                    keep = _prune_by_stats(meta, end_schema_json, adds,
                                           parts, fstats, node)
                if keep:
                    ins = spark.read.schema(sschema).parquet(
                        *sorted(fp for fp, _seq in keep))
                    part = _tag(ins, snap, "insert")
                    _add_part(part)
            if pos_add:
                pre = _pos_preimages(snap, pos_add)
                if pre is not None:
                    part = _tag(pre, snap, "delete")
                    _add_part(part)
            if eq_add:
                pre = _eq_preimages(snap, eq_add)
                if pre is not None:
                    part = _tag(pre, snap, "delete")
                    _add_part(part)

    # the fold (and its eager probes) runs under the field-id pin;
    # the result materializes INSIDE the pin so the returned frame
    # no longer depends on it and the caller's session setting is
    # restored (the save/restore discipline _stage_iceberg_data
    # introduced, via the shared _conf_pins)
    pins = {"spark.sql.parquet.fieldId.read.enabled": "true"}
    if len(meta.get("schemas") or []) > 1:
        # additive evolution: pre-evolution files lack the added
        # columns' field ids — the spec projection rule reads null
        pins["spark.sql.parquet.fieldId.read.ignoreMissing"] = "true"
    with _conf_pins(spark, pins):
        _fold_chain()
        out = None
        for seg in segs + ([cur] if cur is not None else []):
            out = seg if out is None else out.unionByName(seg)
        if out is None:
            return _empty()
        if node is not None:
            from tostore_spark.compile import where_filter_column
            out = out.filter(where_filter_column(node, out.schema))
        out = pin(out.select(*out_cols), eager=True)
    return out


# ------------------------------------------------ continuous UniForm

_BRIDGE_PROP = "tostore.bridge.delta-version"
_BRIDGE_INDEX = "bridge-file-index.json"


def _load_bridge_index(mdir: str, prior_ml: list) -> dict | None:
    """The bridge's path→manifest cache: ``{manifest_abs_path:
    {live data file paths}}``.  Valid only when its manifest set
    matches the current manifest list EXACTLY (manifests are
    immutable once written, so set equality implies content
    agreement); anything else — missing file, foreign rewrite
    (e.g. ``rewrite_data_files`` on the bridge), partial state —
    returns None and the caller falls back to the full decode,
    rebuilding the index from what it reads."""
    try:
        with open(os.path.join(mdir, _BRIDGE_INDEX)) as fh:
            raw = json.load(fh)
        idx = {k: set(v) for k, v in (raw.get("manifests")
                                      or {}).items()}
    except Exception:
        return None
    if set(idx) != {_norm_path(m["manifest_path"])
                    for m in prior_ml}:
        return None
    return idx


def _save_bridge_index(mdir: str, idx: dict) -> None:
    tmp = os.path.join(mdir, f".{_BRIDGE_INDEX}.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump({"manifests": {k: sorted(v)
                                 for k, v in idx.items()}}, fh)
    os.replace(tmp, os.path.join(mdir, _BRIDGE_INDEX))


_BRIDGE_DV_STATE = "bridge-dv-state.json"


def _load_bridge_dv_state(mdir: str) -> dict | None:
    """The bridge's folded-deletion-vector record: ``{delta rel path:
    set(row positions already killed by Iceberg delete files)}``.
    Bitmaps ride the sidecar as the same Base85 roaring encoding the
    Delta log uses inline, so the file stays ∝ deleted rows.  None
    (missing/corrupt — e.g. a pre-r17 bridge) sends the caller to the
    exact rebuild from the table's own delete files."""
    import base64

    from tostore_spark.plans.delta_dv import _parse_bitmap_array
    try:
        with open(os.path.join(mdir, _BRIDGE_DV_STATE)) as fh:
            raw = json.load(fh)
        return {rel: set(_parse_bitmap_array(
                    base64.b85decode(ent["b85"])))
                for rel, ent in (raw.get("paths") or {}).items()}
    except Exception:
        return None


def _save_bridge_dv_state(mdir: str, dvst: dict) -> None:
    import base64

    from tostore_spark.plans.delta_dv import encode_bitmap_array
    tmp = os.path.join(mdir, f".{_BRIDGE_DV_STATE}.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump({"v": 1, "paths": {
            rel: {"b85": base64.b85encode(
                      encode_bitmap_array(sorted(pos))).decode("ascii"),
                  "n": len(pos)}
            for rel, pos in dvst.items() if pos}}, fh)
    os.replace(tmp, os.path.join(mdir, _BRIDGE_DV_STATE))


def _bridge_dv_accumulated(prior_ml: list, targets: set) -> dict:
    """EXACT rebuild of the folded-DV record for ``targets`` (abs data
    file paths) straight from the table's own delete files — the
    fallback when the sidecar is missing.  A position counts as killed
    only when its delete file's sequence number covers the data file's
    own (``delete_seq >= data_seq`` — a re-added file's older delete
    files no longer apply, exactly the reader's rule).  Cost ∝ total
    positions in the live delete files, bounded by the same driver cap
    the fold enforces."""
    import pyarrow.parquet as _pq
    acc = {t: set() for t in targets}
    dseq_of: dict = {}
    dels = []
    for m in prior_ml:
        mseq = int(m.get("sequence_number") or 0)
        _, entries = read_container_file(_norm_path(m["manifest_path"]))
        for e in entries:
            if e.get("status") == 2:
                continue
            df_ = e["data_file"]
            s = e.get("sequence_number")
            s = int(s) if s is not None else mseq
            fp = _norm_path(df_["file_path"])
            if df_.get("content", 0) == 0:
                if fp in targets:
                    dseq_of[fp] = s
            elif df_.get("content") == 1:
                dels.append((fp, s))
    for fp, s in dels:
        tbl = _pq.read_table(fp, columns=["file_path", "pos"])
        for f_, p_ in zip(tbl.column("file_path").to_pylist(),
                          tbl.column("pos").to_pylist()):
            f_n = re.sub("^file:/*", "/", f_)
            if f_n in targets and s >= dseq_of.get(f_n, 0):
                acc[f_n].add(int(p_))
    return acc


def _added_tail_fields(old, new):
    """The appended fields when ``new`` is ``old`` plus ADD-COLUMN-
    only evolution: same leading fields by name/type/nullability
    (metadata-insensitive), every appended field nullable.  None for
    anything else (rename/drop/retype/required/reorder)."""
    def _plain(f):
        return (f.name, f.dataType, f.nullable)
    n = len(old.fields)
    if len(new.fields) <= n:
        return None
    if [_plain(f) for f in new.fields[:n]] != \
            [_plain(f) for f in old.fields]:
        return None
    tail = list(new.fields[n:])
    if any(not f.nullable for f in tail):
        return None
    return tail


def _renamed_only_fields(old, new, schema_json: dict,
                         nm: list | None):
    """The per-position new names when ``new`` is ``old`` with LOGICAL
    RENAMES only — the Delta column-mapping rename shape (metaData-only
    commit, stable physical columns, r17 verdict order #2): same arity,
    same type/nullability per position, at least one name change, and
    EVERY changed position's field carries a
    ``delta.columnMapping.physicalName`` that the bridge's Iceberg name
    mapping ALREADY maps to that position's field id — proving the
    parquet column underneath is unchanged (a drop+re-add of the same
    type carries a fresh physical name and correctly refuses).
    Returns ``{position: new_name}`` or None."""
    if len(new.fields) != len(old.fields):
        return None
    if any((f.dataType, f.nullable) != (o.dataType, o.nullable)
           for f, o in zip(new.fields, old.fields)):
        return None
    changed = {i: f.name
               for i, (f, o) in enumerate(zip(new.fields, old.fields))
               if f.name != o.name}
    if not changed:
        return None
    names_of = {int(e["field-id"]): set(e.get("names") or [])
                for e in (nm or []) if "field-id" in e}
    for i, _newname in changed.items():
        fid = int(schema_json["fields"][i]["id"])
        md = new.fields[i].metadata or {}
        phys = md.get("delta.columnMapping.physicalName")
        if not phys or phys not in names_of.get(fid, ()):
            return None
    return changed


_DEC_RE = re.compile(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)")


def _ice_type_widens(old_t, new_t) -> bool:
    """True when ``new_t`` is ``old_t`` or a spec-legal PROMOTION of it
    (Iceberg "Schema Evolution": ``int``→``long``, ``float``→
    ``double``, ``decimal(P,S)``→``decimal(P',S)`` with P'≥P and the
    SAME scale).  Nested (dict) types promote nothing — equality
    only."""
    if isinstance(old_t, dict) or isinstance(new_t, dict):
        return json.dumps(old_t, sort_keys=True) == \
            json.dumps(new_t, sort_keys=True)
    if old_t == new_t:
        return True
    if (old_t, new_t) in (("int", "long"), ("float", "double")):
        return True
    mo = _DEC_RE.fullmatch(str(old_t))
    mn = _DEC_RE.fullmatch(str(new_t))
    return bool(mo and mn
                and int(mn.group(2)) == int(mo.group(2))
                and int(mn.group(1)) >= int(mo.group(1)))


def _ice_primitive(dt):
    """One Spark type's Iceberg image (str for primitives, dict for
    nested); None when the exporter has no mapping for it."""
    try:
        return _spark_to_iceberg(dt, [1_000_000_000])
    except ValueError:
        return None


def _widened_only_fields(old, new, schema_json: dict):
    """The strictly-widened positions ``{position: new_iceberg_type}``
    when ``new`` is ``old`` with TYPE-WIDENING only — the Delta type
    widening shape (metadata-only commit; old parquet files keep the
    narrow physical type and readers upcast): same arity, same names
    and nullability per position, every changed position's new type a
    spec-legal Iceberg promotion of the field's CURRENT Iceberg type.
    ``{}`` when every change is an Iceberg no-op (e.g. Delta
    byte→short — both map to ``int``); None for anything else."""
    if len(new.fields) != len(old.fields):
        return None
    if any((f.name, f.nullable) != (o.name, o.nullable)
           for f, o in zip(new.fields, old.fields)):
        return None
    out: dict = {}
    for i, (f, o) in enumerate(zip(new.fields, old.fields)):
        if f.dataType == o.dataType:
            continue
        cur_t = schema_json["fields"][i]["type"]
        new_t = _ice_primitive(f.dataType)
        if new_t is None or not _ice_type_widens(cur_t, new_t):
            return None
        if new_t != cur_t:
            out[i] = new_t
    return out


def _dropped_only_fields(old, new):
    """The dropped positions (indices into ``old``) when ``new`` is
    ``old`` with DROP-COLUMN only — the Delta column-mapping drop
    shape (metadata-only commit; parquet files keep the column bytes
    and readers simply stop projecting it): the new fields are a
    PROPER SUBSEQUENCE of the old, matching by name/type/nullability.
    None for anything else (a drop+re-add of the same name carries a
    type-or-position mismatch or lands in the add branch)."""
    def _plain(f):
        return (f.name, f.dataType, f.nullable)
    if len(new.fields) >= len(old.fields):
        return None
    dropped, j = [], 0
    for i, o in enumerate(old.fields):
        if j < len(new.fields) and _plain(new.fields[j]) == _plain(o):
            j += 1
        else:
            dropped.append(i)
    if j != len(new.fields):
        return None
    return dropped


def _bridge_nm(meta: dict) -> list | None:
    raw = (meta.get("properties") or {}).get(
        "schema.name-mapping.default")
    if not raw:
        return None
    try:
        nm = json.loads(raw)
        return nm if isinstance(nm, list) else None
    except Exception:
        return None


def _bridge_entry_schema(part_avro):
    """Manifest-entry Avro schema with the bridge's partition
    record."""
    import copy
    mes = copy.deepcopy(_MANIFEST_ENTRY_SCHEMA)
    pf_field = next(f for f in mes["fields"][4]["type"]["fields"]
                    if f["name"] == "partition")
    pf_field["type"]["fields"] = part_avro
    return mes


def sync_delta_to_iceberg(spark, path: str) -> dict:
    """Bring a ``convert_delta_to_iceberg`` bridge CURRENT: fold every
    Delta commit since the last bridged version into an incremental
    Iceberg snapshot over the SAME files — the continuous-UniForm
    loop (real UniForm keeps both formats current per commit; this is
    that, driven on demand or per ``mirror_delta`` flush).

    Per Delta commit: adds become an ADDED-entries manifest stacked on
    the prior manifests (an ``append`` snapshot); removes REWRITE only
    the manifests that contain the removed files (removed entries →
    status DELETED, survivors → EXISTING carrying their ORIGINAL
    sequence numbers — the scoping rule compaction already obeys;
    untouched manifests carry over verbatim), committing a ``delete``
    / ``overwrite`` snapshot; a commit whose actions all declare
    ``dataChange=false`` (optimize) commits as ``replace``.  Snapshot
    timestamps ride the Delta commit timestamps (monotonically
    adjusted), so ``as_of`` travel agrees across formats.

    DELETION-VECTOR commits fold natively (r17): a Delta DV write —
    remove(X) + re-add(X, deletionVector) over the same physical
    file — commits as an Iceberg merge-on-read ``delete`` snapshot:
    prior manifests carry over verbatim and one position-delete file
    kills the bitmap's positions.  The ``bridge-dv-state.json``
    sidecar records what each file's folded vector already covers, so
    the delete file holds only the NEWLY dead positions (rebuilt
    exactly from the table's own delete files when missing); a
    vector that SHRANK (restore) falls back to delete + re-add, where
    the fresh data sequence outruns every older delete file.

    Refusals (never a silent divergence): schema or partition-column
    evolution in the range (re-convert), column mapping, a DV commit
    over the driver position bound (``optimize_delta`` first), a
    table that is not a bridge.

    Scale: zero row IO — a pure-append commit opens ZERO prior
    manifests (the prior manifest list carries over verbatim plus one
    stacked ADDED manifest: one footer-stat read per added file); a
    delete commit decodes only CANDIDATE manifests via the persisted
    path→manifest index (``metadata/bridge-file-index.json``,
    validated against the live manifest set and rebuilt by one full
    decode when missing or foreign-rewritten), then rewrites only the
    hit ones.  A 100-row delete against a million-file bridge reads
    and rewrites the one manifest holding those files.  Every Delta
    remove must match a live manifest entry — an unmatched remove
    (path-encoding drift) raises instead of silently diverging the
    two formats.  Returns ``{"snapshots", "from_version",
    "to_version"}``."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    p = _norm_path(path)
    meta = _load_metadata(p)
    props = meta.get("properties") or {}
    if _BRIDGE_PROP not in props:
        raise ValueError(
            f"{p} is not a delta→iceberg bridge — run "
            "convert_delta_to_iceberg first")
    last = int(props[_BRIDGE_PROP])
    log_dir = os.path.join(p, "_delta_log")
    versions = sorted(
        int(f[:-5]) for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:-5].isdigit())
    todo = [v for v in versions if v > last]
    if not todo:
        return {"snapshots": 0, "from_version": last,
                "to_version": last}
    if todo[0] != last + 1 or todo != list(range(todo[0],
                                                 todo[-1] + 1)):
        raise ValueError(
            f"delta log has a gap after bridged version {last} — "
            "the bridge cannot fold missing commits")

    # fold against the bridge's CURRENT schema — the last folded
    # Delta metaData — NOT the last snapshot's schema: metadata-only
    # evolution (rename/drop/widen) commits no snapshot, so the
    # snapshot binding would rebase the next sync onto a stale shape
    schema_json = _current_schema(meta)
    sschema = _schema_to_spark(schema_json)
    cur_schema_id = int(meta.get("current-schema-id", 0))
    specs0 = meta.get("partition-specs") or [{"spec-id": 0,
                                              "fields": []}]
    cur_spec_id = int(meta.get("default-spec-id", 0))
    spec_fields = next(
        (s for s in specs0
         if int(s.get("spec-id", 0)) == cur_spec_id),
        specs0[0]).get("fields") or []
    pcols = [f["name"] for f in spec_fields]
    spec2, part_avro, _pval = _convert_identity_spec(
        pcols, schema_json, _strip_field_ids(sschema))

    def _spec_sig(fields):
        return [(f.get("name"), f.get("transform"),
                 int(f.get("source-id", -1))) for f in fields]
    if _spec_sig(spec2) != _spec_sig(spec_fields):
        raise ValueError("bridge partition spec drifted — re-convert")
    # the Avro partition-record field-ids must match the SPEC's own
    # (an evolved spec's ids continue past 1000+i)
    for pa_f, pf in zip(part_avro, spec_fields):
        pa_f["field-id"] = int(pf.get("field-id", pa_f["field-id"]))
    mes = _bridge_entry_schema(part_avro)
    mdir = os.path.join(p, "metadata")

    def _mes_for_spec(spec_id):
        """Entry schema + spec fields for a PRIOR spec-id — manifest
        rewrites must re-encode entries under the manifest's OWN spec
        (partition evolution keeps old manifests on old specs)."""
        sp = next((s for s in (meta.get("partition-specs") or [])
                   if int(s.get("spec-id", 0)) == int(spec_id)),
                  {"fields": []})
        fields_s = sp.get("fields") or []
        by_fid = {int(f["id"]): f for f in schema_json["fields"]}
        pcols_s = [by_fid[int(pf["source-id"])]["name"]
                   for pf in fields_s]
        _sf, pa_s, _pv = _convert_identity_spec(
            pcols_s, schema_json, _strip_field_ids(sschema))
        for pa_f, pf in zip(pa_s, fields_s):
            pa_f["field-id"] = int(pf.get("field-id",
                                          pa_f["field-id"]))
        return _bridge_entry_schema(pa_s), fields_s

    def _commit_ts(v, cpath, acts):
        for a in acts:
            if "commitInfo" in a and a["commitInfo"].get("timestamp"):
                return int(a["commitInfo"]["timestamp"])
        return int(os.path.getmtime(cpath) * 1000)

    committed = 0
    dvst = None          # folded-DV record, loaded at first DV commit
    for v in todo:
        cpath = os.path.join(log_dir, f"{v:020d}.json")
        with open(cpath) as fh:
            acts = [json.loads(ln) for ln in fh if ln.strip()]
        for a in acts:
            if "metaData" in a:
                md = a["metaData"]
                new_schema = StructType.fromJson(
                    json.loads(md["schemaString"]))
                old_plain = _strip_field_ids(sschema)

                def _shape(st):
                    return [(f.name, f.dataType, f.nullable)
                            for f in st.fields]
                if _shape(old_plain) == _shape(new_schema):
                    # re-emitted unchanged schema, or a METADATA-ONLY
                    # change — the column-mapping ENABLEMENT commit
                    # (each existing field gains physicalName = its
                    # current name): physically a no-op for the bridge
                    pass
                elif (renamed := _renamed_only_fields(
                        old_plain, new_schema, schema_json,
                        _bridge_nm(meta))) is not None:
                    # RENAME-only evolution (r17 order #2): fold as a
                    # new Iceberg schema-id with UNCHANGED field ids —
                    # Iceberg resolves by id natively, and the name
                    # mapping stays keyed by the stable PHYSICAL
                    # parquet names, so zero data moves and every
                    # prior snapshot keeps time-traveling under its
                    # own (old-name) schema-id.
                    schemas = list(meta.get("schemas")
                                   or [dict(schema_json,
                                            **{"schema-id":
                                               cur_schema_id})])
                    sid = max(int(s.get("schema-id", 0))
                              for s in schemas) + 1
                    new_sj = {
                        "type": "struct", "schema-id": sid,
                        "fields": [
                            dict(f, **({"name": renamed[i]}
                                       if i in renamed else {}))
                            for i, f in
                            enumerate(schema_json["fields"])]}
                    meta["schemas"] = schemas + [new_sj]
                    meta["current-schema-id"] = sid
                    if "schema" in meta:
                        meta["schema"] = new_sj
                    schema_json = new_sj
                    sschema = _schema_to_spark(schema_json)
                    cur_schema_id = sid
                elif (widened := _widened_only_fields(
                        old_plain, new_schema, schema_json)) \
                        is not None:
                    # TYPE-WIDENING evolution (r17): a Delta type
                    # widening commit (metadata-only; old files keep
                    # the narrow physical type) folds as a new Iceberg
                    # schema-id with UNCHANGED field ids and PROMOTED
                    # types — spec-legal promotions only, readers
                    # upcast at the parquet scan.  Bounds written
                    # before the widen stay narrow-encoded; the
                    # pruner's _deser_bound refutes nothing on a
                    # length mismatch, which is conservative.  An
                    # Iceberg-no-op change (byte→short: both "int")
                    # folds as nothing at all.
                    if widened:
                        pspecs_all = (meta.get("partition-specs")
                                      or [{"spec-id": 0,
                                           "fields": spec_fields}])
                        srcs = {int(pf["source-id"])
                                for s_ in pspecs_all
                                for pf in (s_.get("fields") or [])}
                        for i in widened:
                            fid = int(schema_json["fields"][i]["id"])
                            if fid in srcs:
                                raise ValueError(
                                    f"delta commit {v} widens column "
                                    f"{schema_json['fields'][i]['name']!r}"
                                    " which a partition spec sources — "
                                    "manifest partition values are "
                                    "typed; re-convert")
                        schemas = list(meta.get("schemas")
                                       or [dict(schema_json,
                                                **{"schema-id":
                                                   cur_schema_id})])
                        sid = max(int(s.get("schema-id", 0))
                                  for s in schemas) + 1
                        new_sj = {
                            "type": "struct", "schema-id": sid,
                            "fields": [
                                dict(f, **({"type": widened[i]}
                                           if i in widened else {}))
                                for i, f in
                                enumerate(schema_json["fields"])]}
                        meta["schemas"] = schemas + [new_sj]
                        meta["current-schema-id"] = sid
                        if "schema" in meta:
                            meta["schema"] = new_sj
                        schema_json = new_sj
                        sschema = _schema_to_spark(schema_json)
                        cur_schema_id = sid
                elif (dropped := _dropped_only_fields(
                        old_plain, new_schema)) is not None:
                    # DROP-COLUMN evolution (r17): a Delta
                    # column-mapping drop (metadata-only; parquet
                    # files keep the column bytes) folds as a new
                    # Iceberg schema-id WITHOUT the field — readers
                    # project by id and ignore unlisted columns, so
                    # zero data moves and prior snapshots keep
                    # time-traveling with the column.  The name
                    # mapping keeps its entry (older schema-ids still
                    # resolve it).  Bridges carry no equality deletes
                    # (DV folds are position deletes), so no live
                    # delete file can bind the dropped id.
                    pspecs_all = (meta.get("partition-specs")
                                  or [{"spec-id": 0,
                                       "fields": spec_fields}])
                    srcs = {int(pf["source-id"])
                            for s_ in pspecs_all
                            for pf in (s_.get("fields") or [])}
                    drop_ids = {int(schema_json["fields"][i]["id"])
                                for i in dropped}
                    hit = drop_ids & srcs
                    if hit:
                        raise ValueError(
                            f"delta commit {v} drops column(s) with "
                            f"field id(s) {sorted(hit)} that a "
                            "partition spec sources — re-convert")
                    schemas = list(meta.get("schemas")
                                   or [dict(schema_json,
                                            **{"schema-id":
                                               cur_schema_id})])
                    sid = max(int(s.get("schema-id", 0))
                              for s in schemas) + 1
                    new_sj = {
                        "type": "struct", "schema-id": sid,
                        "fields": [dict(f) for i, f in
                                   enumerate(schema_json["fields"])
                                   if i not in set(dropped)]}
                    meta["schemas"] = schemas + [new_sj]
                    meta["current-schema-id"] = sid
                    if "schema" in meta:
                        meta["schema"] = new_sj
                    schema_json = new_sj
                    sschema = _schema_to_spark(schema_json)
                    cur_schema_id = sid
                else:
                    added = _added_tail_fields(old_plain, new_schema)
                    if added is None:
                        raise ValueError(
                            f"delta commit {v} evolves the schema in "
                            "a shape the bridge cannot follow (a "
                            "non-widening retype, a required column, "
                            "a combined rename/drop/widen/add in one "
                            "commit, or a rename without a "
                            "column-mapping physical name the bridge "
                            "can verify) — re-convert (expire + "
                            "remove metadata/ + "
                            "convert_delta_to_iceberg)")
                    # ADD-COLUMN-only evolution folds as a NEW Iceberg
                    # schema-id (the exporter's refresh path
                    # precedent).  New columns take fresh field ids
                    # and extend the name mapping; files older than a
                    # column null-fill through name-based resolution —
                    # the spec projection rule.
                    schemas = list(meta.get("schemas")
                                   or [dict(schema_json,
                                            **{"schema-id":
                                               cur_schema_id})])
                    sid = max(int(s.get("schema-id", 0))
                              for s in schemas) + 1
                    next_id = [max(int(meta.get("last-column-id", 0)),
                                   _max_field_id(schema_json)) + 1]
                    add_struct = _spark_to_iceberg(
                        StructType(list(added)), next_id)
                    new_sj = {"type": "struct", "schema-id": sid,
                              "fields": [dict(f) for f in
                                         schema_json["fields"]]
                              + add_struct["fields"]}
                    meta["schemas"] = schemas + [new_sj]
                    meta["current-schema-id"] = sid
                    meta["last-column-id"] = next_id[0] - 1
                    if "schema" in meta:
                        meta["schema"] = new_sj
                    nm = _bridge_nm(meta)
                    if nm is not None:
                        have = {e.get("field-id") for e in nm}
                        # the mapping resolves FILE column names:
                        # under column mapping an added column's
                        # parquet name is its physicalName, not the
                        # logical one
                        phys_of = {
                            f.name: (f.metadata or {}).get(
                                "delta.columnMapping.physicalName")
                            for f in added}
                        taken = {n for e in nm
                                 for n in (e.get("names") or [])}
                        for f in add_struct["fields"]:
                            if f["id"] in have:
                                continue
                            pn = phys_of.get(f["name"]) or f["name"]
                            if pn in taken:
                                # a re-add of a physical name the
                                # mapping already binds (a prior DROP
                                # of the same column): resolving old
                                # files' bytes under the new field
                                # would resurface dead values — only
                                # a column-mapping re-add with a
                                # FRESH physical name is unambiguous
                                raise ValueError(
                                    f"delta commit {v} re-adds "
                                    f"column {f['name']!r} whose "
                                    f"physical name {pn!r} the "
                                    "bridge's name mapping already "
                                    "binds to a dropped field — "
                                    "ambiguous; use column mapping "
                                    "(fresh physical name) or "
                                    "re-convert")
                        nm += [{"field-id": f["id"],
                                "names": [phys_of.get(f["name"])
                                          or f["name"]]}
                               for f in add_struct["fields"]
                               if f["id"] not in have]
                        meta["properties"][
                            "schema.name-mapping.default"] = \
                            json.dumps(nm)
                    schema_json = new_sj
                    sschema = _schema_to_spark(schema_json)
                    cur_schema_id = sid
                # PARTITION EVOLUTION (r17 order #3): a changed
                # partitionColumns list appends a NEW spec-id — each
                # manifest carries its own spec-id, so prior
                # manifests stay valid under theirs; evaluated AFTER
                # any same-commit schema fold so a freshly-added
                # column can be partitioned on
                new_pcols = list(md.get("partitionColumns") or [])
                if new_pcols != pcols:
                    sf_new, pa_new, pv_new = _convert_identity_spec(
                        new_pcols, schema_json,
                        _strip_field_ids(sschema))
                    pspecs = list(meta.get("partition-specs")
                                  or [{"spec-id": 0,
                                       "fields": spec_fields}])
                    next_fid = max(
                        [int(meta.get("last-partition-id", 999))]
                        + [int(pf.get("field-id", 999))
                           for s in pspecs
                           for pf in (s.get("fields") or [])]) + 1
                    for i, (sf_, pa_) in enumerate(zip(sf_new,
                                                       pa_new)):
                        sf_["field-id"] = next_fid + i
                        pa_["field-id"] = next_fid + i
                    sid_p = max(int(s.get("spec-id", 0))
                                for s in pspecs) + 1
                    meta["partition-specs"] = pspecs + [
                        {"spec-id": sid_p, "fields": sf_new}]
                    meta["default-spec-id"] = sid_p
                    if new_pcols:
                        meta["last-partition-id"] = \
                            next_fid + len(new_pcols) - 1
                    if "partition-spec" in meta:
                        meta["partition-spec"] = sf_new
                    pcols, spec_fields = new_pcols, sf_new
                    part_avro, _pval = pa_new, pv_new
                    cur_spec_id = sid_p
                    mes = _bridge_entry_schema(part_avro)
        adds = [a["add"] for a in acts if "add" in a]
        removes = [a["remove"] for a in acts if "remove" in a]
        if not adds and not removes:
            continue                 # metadata/protocol-only commit
        data_change = (any(a.get("dataChange") for a in adds)
                       or any(r.get("dataChange") for r in removes))
        has_dv = any(a.get("deletionVector") for a in adds)

        cur_snap = _pick_snapshot(meta)
        seq = int(meta.get("last-sequence-number", 0)) + 1
        snap_id = max((s["snapshot-id"] for s in
                       meta.get("snapshots", [])), default=0) + 1
        _, prior_ml = read_container_file(
            _norm_path(cur_snap["manifest-list"]))
        ml_entries = []
        idx = _load_bridge_index(mdir, prior_ml)

        # DELETION-VECTOR commits (r17): a Delta DV write is remove(X)
        # + re-add(X, deletionVector) over the SAME physical file —
        # the bitmap names the killed row positions directly, so the
        # commit folds as an Iceberg MERGE-ON-READ snapshot: the data
        # file set is untouched (prior manifests carry over verbatim)
        # and ONE position-delete file holds the positions the table
        # has not already killed (delete_seq = this commit's seq >=
        # every untouched file's data seq, the reader's apply rule).
        # Zero row IO at any base size; delete-file bytes ∝ the NEWLY
        # deleted positions via the bridge-dv-state sidecar's diff.
        dv_hits: list = []           # (abs data path, pos)
        dv_state_upd: dict = {}      # rel path -> full folded set
        if has_dv:
            from tostore_spark.plans.delta_dv import (
                MAX_TOTAL_POSITIONS, decode_deletion_vector)
            if idx is None:
                idx = {}
                for m in prior_ml:
                    mp = _norm_path(m["manifest_path"])
                    if int(m.get("content") or 0) != 0:
                        idx[mp] = set()
                        continue
                    _, ents_ = read_container_file(mp)
                    idx[mp] = {
                        _norm_path(e["data_file"]["file_path"])
                        for e in ents_ if e.get("status") != 2}
            live_all = set().union(*idx.values()) if idx else set()
            if dvst is None:
                dvst = _load_bridge_dv_state(mdir)
            if dvst is None:
                # pre-sidecar bridge: ONE exact rebuild from the
                # table's own delete files (∝ folded positions, paid
                # once — the lazy-bloom-build precedent), complete
                # over every live file so absence thereafter MEANS
                # "no folded positions"
                acc = _bridge_dv_accumulated(prior_ml, live_all)
                plen = len(p.rstrip("/")) + 1
                dvst = {fp[plen:]: pos for fp, pos in acc.items()
                        if pos and fp.startswith(p)}
            dv_adds = {a["path"]: a for a in adds
                       if a.get("deletionVector")}
            adds = [a for a in adds if not a.get("deletionVector")]
            rem2, demote, paired = [], [], set()
            for r in removes:
                if r["path"] not in dv_adds:
                    rem2.append(r)
                else:
                    paired.add(r["path"])
            removes = rem2
            for rel in sorted(dv_adds):
                a = dv_adds[rel]
                fp_abs = os.path.join(p, rel)
                new_pos = set(decode_deletion_vector(
                    p, a["deletionVector"]))
                if fp_abs not in live_all:
                    if rel in paired:
                        raise ValueError(
                            f"delta commit {v} re-adds {rel} with a "
                            "deletion vector but it matches no live "
                            "manifest entry (path encoding drift?) — "
                            "refusing a silent Delta-vs-Iceberg "
                            "divergence")
                    # a file BORN with a vector (del-after-seg in one
                    # Delta commit): stage it as a normal add, kill
                    # its positions same-commit (equal seq applies
                    # for position deletes)
                    adds.append(a)
                    dv_hits += [(fp_abs, pp) for pp in sorted(new_pos)]
                    dv_state_upd[rel] = new_pos
                    continue
                old_pos = dvst.get(rel) or set()
                if new_pos >= old_pos:
                    fresh = new_pos - old_pos
                    dv_hits += [(fp_abs, pp) for pp in sorted(fresh)]
                    dv_state_upd[rel] = new_pos
                else:
                    # the vector SHRANK (a restore shape): stacked
                    # position deletes cannot resurrect a row, but a
                    # delete + re-add can — the re-added file's fresh
                    # data sequence outruns every older delete file
                    # (the reader's delete_seq >= data_seq rule), and
                    # the full new vector re-kills same-commit
                    demote.append((rel, a, new_pos))
            for rel, a, new_pos in demote:
                removes.append({"path": rel, "dataChange": True})
                adds.append(a)
                dv_hits += [(os.path.join(p, rel), pp)
                            for pp in sorted(new_pos)]
                dv_state_upd[rel] = new_pos
            if len(dv_hits) > MAX_TOTAL_POSITIONS:
                raise ValueError(
                    f"delta commit {v} folds {len(dv_hits)} deletion-"
                    "vector positions — over the driver-side bound; "
                    "optimize_delta first")
        if not adds and not removes and not dv_hits:
            continue        # e.g. a re-written identical vector
        removed_abs = {os.path.join(p, r["path"]) for r in removes}
        idx_new = {} if (idx is not None or removed_abs) else None
        if not removed_abs:
            # append fast path: no prior manifest is opened — the
            # list carries over verbatim (the per-commit cost claim
            # below depends on this branch)
            ml_entries = list(prior_ml)
            if idx_new is not None:
                idx_new.update(idx)
        else:
            matched: set = set()
            for m in prior_ml:
                mpath_abs = _norm_path(m["manifest_path"])
                if idx is not None and \
                        not (idx[mpath_abs] & removed_abs):
                    # index says this manifest holds none of the
                    # removed files: carry without decoding
                    ml_entries.append(m)
                    idx_new[mpath_abs] = idx[mpath_abs]
                    continue
                mseq = m.get("sequence_number") or 0
                _, entries = read_container_file(mpath_abs)
                live = [e for e in entries if e.get("status") != 2]
                live_paths = {_norm_path(e["data_file"]["file_path"])
                              for e in live}
                hit = live_paths & removed_abs
                matched |= hit
                if not hit:
                    ml_entries.append(m)   # untouched: carry verbatim
                    idx_new[mpath_abs] = live_paths
                    continue
                # rewrite ONLY this manifest: removed → DELETED, the
                # survivors → EXISTING carrying their original data seq
                new_entries, n_del, r_del, n_ex, r_ex = [], 0, 0, 0, 0
                mins = [seq]
                for e in live:
                    eseq = e.get("sequence_number")
                    eseq = mseq if eseq is None else int(eseq)
                    df_ = e["data_file"]
                    rows = int(df_["record_count"])
                    if _norm_path(df_["file_path"]) in removed_abs:
                        st, sid = 2, snap_id
                        n_del += 1
                        r_del += rows
                    else:
                        st, sid = 0, e.get("snapshot_id")
                        n_ex += 1
                        r_ex += rows
                        mins.append(eseq)
                    new_entries.append({
                        "status": st, "snapshot_id": sid,
                        "sequence_number": eseq,
                        "file_sequence_number": eseq,
                        "data_file": df_})
                man_path = os.path.join(
                    mdir, f"{uuid.uuid4().hex}-m0.avro")
                # the rewritten manifest keeps its ORIGINAL spec-id:
                # its surviving entries' partition structs were
                # recorded under that spec (partition evolution)
                m_sid = int(m.get("partition_spec_id") or 0)
                mes_m, sfields_m = (
                    (mes, spec_fields) if m_sid == cur_spec_id
                    else _mes_for_spec(m_sid))
                write_container_file(
                    man_path, mes_m, new_entries,
                    meta={"schema": json.dumps(schema_json),
                          "schema-id": str(cur_schema_id),
                          "partition-spec": json.dumps(sfields_m),
                          "partition-spec-id": str(m_sid),
                          "format-version": "2", "content": "data"})
                ml_entries.append({
                    "manifest_path": man_path,
                    "manifest_length": os.path.getsize(man_path),
                    "partition_spec_id": m_sid, "content": 0,
                    "sequence_number": seq,
                    "min_sequence_number": min(mins),
                    "added_snapshot_id": snap_id,
                    "added_files_count": 0,
                    "existing_files_count": n_ex,
                    "deleted_files_count": n_del,
                    "added_rows_count": 0,
                    "existing_rows_count": r_ex,
                    "deleted_rows_count": r_del,
                    "key_metadata": None})
                idx_new[_norm_path(man_path)] = live_paths - hit
            if matched != removed_abs:
                missing = sorted(removed_abs - matched)[:3]
                raise ValueError(
                    f"delta commit {v} removes {len(removed_abs)} "
                    f"file(s) but {len(removed_abs) - len(matched)} "
                    "matched no live manifest entry (path encoding "
                    f"drift? e.g. {missing}) — refusing a silent "
                    "Delta-vs-Iceberg divergence")
        add_rows = 0
        if adds:
            entries = []
            nm_alias = {n: e["field-id"]
                        for e in (_bridge_nm(meta) or [])
                        if "field-id" in e
                        for n in (e.get("names") or [])}
            for a in sorted(adds, key=lambda x: x["path"]):
                fp = os.path.join(p, a["path"])
                pv_raw = a.get("partitionValues") or {}
                pvals = {c: _pval(c, pv_raw.get(c)) for c in pcols}
                n_rows = None
                st_json = a.get("stats")
                if st_json:
                    try:
                        n = json.loads(st_json).get("numRecords")
                        if isinstance(n, int):
                            n_rows = n
                    except Exception:
                        pass
                if n_rows is None:
                    n_rows = int(pq.ParquetFile(fp).metadata.num_rows)
                add_rows += int(n_rows)
                st = _file_column_stats(fp, schema_json,
                                        name_to_id=nm_alias)
                entries.append({
                    "status": 1, "snapshot_id": snap_id,
                    "sequence_number": None,
                    "file_sequence_number": None,
                    "data_file": {
                        "content": 0, "file_path": fp,
                        "file_format": "PARQUET", "partition": pvals,
                        "record_count": int(n_rows),
                        "file_size_in_bytes": os.path.getsize(fp),
                        "value_counts": st.get("value_counts"),
                        "null_value_counts": st.get(
                            "null_value_counts"),
                        "lower_bounds": st.get("lower_bounds"),
                        "upper_bounds": st.get("upper_bounds"),
                        "equality_ids": None}})
            man_path = os.path.join(mdir, f"{uuid.uuid4().hex}-m0.avro")
            write_container_file(
                man_path, mes, entries,
                meta={"schema": json.dumps(schema_json),
                      "schema-id": str(cur_schema_id),
                      "partition-spec": json.dumps(spec_fields),
                      "partition-spec-id": str(cur_spec_id),
                      "format-version": "2", "content": "data"})
            ml_entries.append({
                "manifest_path": man_path,
                "manifest_length": os.path.getsize(man_path),
                "partition_spec_id": cur_spec_id, "content": 0,
                "sequence_number": seq, "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_files_count": len(entries),
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": add_rows,
                "existing_rows_count": 0, "deleted_rows_count": 0,
                "key_metadata": None})
            if idx_new is not None:
                idx_new[_norm_path(man_path)] = {
                    _norm_path(e["data_file"]["file_path"])
                    for e in entries}
        if dv_hits:
            dfl = _write_position_deletes(p, dv_hits)
            ml_entries.append(_manifest(
                mdir, schema_json,
                [{"status": 1, "snapshot_id": snap_id,
                  "sequence_number": None,
                  "file_sequence_number": None,
                  "data_file": {
                      "content": 1, "file_path": dfl[0],
                      "file_format": "PARQUET", "partition": {},
                      "record_count": dfl[1],
                      "file_size_in_bytes": dfl[2],
                      "value_counts": None,
                      "null_value_counts": None,
                      "lower_bounds": None, "upper_bounds": None,
                      "equality_ids": None}}],
                snap_id, seq, "deletes"))
            if idx_new is not None:
                idx_new[_norm_path(
                    ml_entries[-1]["manifest_path"])] = set()
        ml_path = os.path.join(
            mdir, f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro")
        write_container_file(ml_path, _MANIFEST_LIST_SCHEMA,
                             ml_entries, meta={"format-version": "2"})
        if not data_change:
            op = "replace"
        elif adds and (removes or dv_hits):
            op = "overwrite"
        elif adds:
            op = "append"
        else:
            op = "delete"
        ts = max(_commit_ts(v, cpath, acts),
                 int(cur_snap.get("timestamp-ms", 0)))
        summary = {"operation": op,
                   "added-data-files": str(len(adds)),
                   "deleted-data-files": str(len(removes)),
                   "added-records": str(add_rows)}
        if dv_hits:
            summary["added-delete-files"] = "1"
            summary["added-position-deletes"] = str(len(dv_hits))
        snap = {"snapshot-id": snap_id, "sequence-number": seq,
                "timestamp-ms": ts,
                "summary": summary,
                "manifest-list": ml_path,
                "schema-id": cur_schema_id,
                "parent-snapshot-id": cur_snap["snapshot-id"]}
        meta["snapshots"] = (meta.get("snapshots") or []) + [snap]
        meta["current-snapshot-id"] = snap_id
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = ts
        meta["refs"] = {**(meta.get("refs") or {}),
                        "main": {"snapshot-id": snap_id,
                                 "type": "branch"}}
        meta["snapshot-log"] = (meta.get("snapshot-log") or []) + [
            {"timestamp-ms": ts, "snapshot-id": snap_id}]
        meta["properties"][_BRIDGE_PROP] = str(v)
        _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
        if idx_new is not None:
            _save_bridge_index(mdir, idx_new)
        if dv_state_upd or (dvst and removed_abs):
            # written AFTER the metadata commit: a crash between the
            # two leaves the sidecar UNDERSTATING folded positions,
            # which the next fold re-kills idempotently (never the
            # reverse, which could resurrect rows)
            if dvst is None:
                dvst = _load_bridge_dv_state(mdir) or {}
            for r_ in removes:
                dvst.pop(r_["path"], None)
            dvst.update(dv_state_upd)
            _save_bridge_dv_state(mdir, dvst)
        committed += 1
    if int(meta["properties"][_BRIDGE_PROP]) != todo[-1]:
        # trailing metadata-only commits: persist the advanced cursor
        meta["properties"][_BRIDGE_PROP] = str(todo[-1])
        _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
    return {"snapshots": committed, "from_version": last,
            "to_version": todo[-1]}
