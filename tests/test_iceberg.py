"""Iceberg interop (plans/iceberg + plans/avro_io).

The Avro codec is pinned at BYTE level against hand-computed fixtures
from the public Avro 1.11 spec (zig-zag varints, container layout) so
the format cannot drift into a self-consistent-but-nonstandard
encoding; the Iceberg reader is exercised against a FOREIGN
hand-constructed v2 table (pyarrow-written parquet with field ids,
spec-schema manifests) covering sequence-number-scoped position and
equality deletes, field-id renames, inheritance, and refusals."""
import json
import os

import pytest

from tostore_spark.plans.avro_io import (read_container, write_container,
                                         write_container_file, _zigzag)
from tostore_spark.plans.iceberg import (export_iceberg, read_iceberg,
                                         _MANIFEST_ENTRY_SCHEMA,
                                         _MANIFEST_LIST_SCHEMA)


# ------------------------------------------------------------- avro unit

def test_zigzag_spec_values():
    # Avro spec "Binary Encoding": 0→00, -1→01, 1→02, -2→03, 2→04,
    # -64→7f, 64→80 01
    assert _zigzag(0) == b"\x00"
    assert _zigzag(-1) == b"\x01"
    assert _zigzag(1) == b"\x02"
    assert _zigzag(-2) == b"\x03"
    assert _zigzag(2) == b"\x04"
    assert _zigzag(-64) == b"\x7f"
    assert _zigzag(64) == b"\x80\x01"
    assert _zigzag(-(2 ** 63)) == b"\xff\xff\xff\xff\xff\xff\xff\xff\xff\x01"
    assert _zigzag(2 ** 63 - 1) == b"\xfe\xff\xff\xff\xff\xff\xff\xff\xff\x01"


def _hand_container() -> bytes:
    """A container file built BY HAND (no encoder involvement), spec
    section "Object Container Files": one record {"a": 3, "s": "hi"},
    null codec, zero sync marker."""
    schema = b'{"type":"record","name":"r","fields":' \
             b'[{"name":"a","type":"long"},{"name":"s","type":"string"}]}'
    out = b"Obj\x01"
    out += b"\x04"                                   # map count 2
    out += b"\x16" + b"avro.schema"                  # len 11 → zz 0x16
    out += _zigzag(len(schema)) + schema
    out += b"\x14" + b"avro.codec"                   # len 10 → zz 0x14
    out += b"\x08" + b"null"                         # len 4 → zz 0x08
    out += b"\x00"                                   # map end
    out += b"\x00" * 16                              # sync
    body = b"\x06" + b"\x04" + b"hi"                 # a=3 → 06; "hi"
    out += b"\x02"                                   # block count 1
    out += _zigzag(len(body)) + body
    out += b"\x00" * 16                              # sync
    return out


def test_container_decode_hand_bytes():
    meta, recs = read_container(_hand_container())
    assert recs == [{"a": 3, "s": "hi"}]
    assert meta["avro.codec"] == b"null"


def test_container_encode_matches_hand_bytes():
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}, {"name": "s", "type": "string"}]}
    data = write_container(schema, [{"a": 3, "s": "hi"}], codec="null")
    assert data == _hand_container()


def test_container_negative_block_count_array():
    """Array encoded in the block-size-prefixed form (negative count)
    — a shape real writers emit that our encoder never does."""
    schema = b'{"type":"record","name":"r","fields":' \
             b'[{"name":"xs","type":{"type":"array","items":"int"}}]}'
    out = b"Obj\x01\x02"
    out += b"\x16avro.schema" + _zigzag(len(schema)) + schema
    out += b"\x00" + b"\x00" * 16
    # xs = [7, 9]: count -2 (zz 0x03), block byte size 2, items, end 0
    body = b"\x03" + b"\x04" + b"\x0e\x12" + b"\x00"
    out += b"\x02" + _zigzag(len(body)) + body + b"\x00" * 16
    _, recs = read_container(out)
    assert recs == [{"xs": [7, 9]}]


def test_container_roundtrip_all_types():
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"], "default": None},
        {"name": "c", "type": {"type": "array", "items": "double"}},
        {"name": "d", "type": {"type": "map", "values": "boolean"}},
        {"name": "e", "type": {"type": "enum", "name": "E",
                               "symbols": ["X", "Y"]}},
        {"name": "f", "type": {"type": "fixed", "name": "F", "size": 3}},
        {"name": "g", "type": ["null", {"type": "record", "name": "sub",
                                        "fields": [{"name": "z",
                                                    "type": "int"}]}]},
        {"name": "h", "type": "bytes"},
    ]}
    recs = [{"a": -(2 ** 62), "b": "é", "c": [1.5, -0.25], "d": {"k": True},
             "e": "Y", "f": b"abc", "g": {"z": -7}, "h": b"\x00\xff"},
            {"a": 0, "b": None, "c": [], "d": {}, "e": "X", "f": b"xyz",
             "g": None, "h": b""}]
    for codec in ("null", "deflate"):
        _, out = read_container(write_container(schema, recs, codec=codec))
        assert out == recs


def test_container_refuses_bad_magic_and_codec():
    with pytest.raises(ValueError, match="magic"):
        read_container(b"PAR1" + b"\x00" * 40)
    data = bytearray(write_container(
        {"type": "record", "name": "r",
         "fields": [{"name": "a", "type": "long"}]}, [{"a": 1}],
        codec="null"))
    # corrupt the codec value in place: "null" → "zstd"
    assert bytes(data).count(b"null") >= 1
    idx = bytes(data).index(b"null")
    data[idx:idx + 4] = b"zstd"
    with pytest.raises(ValueError, match="codec"):
        read_container(bytes(data))


def test_iceberg_manifest_schemas_roundtrip():
    entry = {"status": 1, "snapshot_id": 10, "sequence_number": None,
             "file_sequence_number": None,
             "data_file": {"content": 0, "file_path": "/d/a.parquet",
                           "file_format": "PARQUET", "partition": {},
                           "record_count": 5, "file_size_in_bytes": 99,
                           "value_counts": [{"key": 1, "value": 5}],
                           "null_value_counts": [{"key": 1, "value": 0}],
                           "lower_bounds": [
                               {"key": 1,
                                "value": b"\x01\x00\x00\x00\x00\x00\x00\x00"}],
                           "upper_bounds": [
                               {"key": 1,
                                "value": b"\x09\x00\x00\x00\x00\x00\x00\x00"}],
                           "equality_ids": None}}
    _, out = read_container(
        write_container(_MANIFEST_ENTRY_SCHEMA, [entry]))
    assert out == [entry]
    # stats maps are optional with null defaults — an entry written
    # without them decodes with explicit Nones
    bare = {"status": 1, "snapshot_id": 10, "sequence_number": None,
            "file_sequence_number": None,
            "data_file": {"content": 0, "file_path": "/d/a.parquet",
                          "file_format": "PARQUET", "partition": {},
                          "record_count": 5, "file_size_in_bytes": 99,
                          "value_counts": None,
                          "null_value_counts": None,
                          "lower_bounds": None, "upper_bounds": None,
                          "equality_ids": None}}
    _, out = read_container(
        write_container(_MANIFEST_ENTRY_SCHEMA, [bare]))
    assert out == [bare]
    ml = {"manifest_path": "/m.avro", "manifest_length": 1,
          "partition_spec_id": 0, "content": 0, "sequence_number": 3,
          "min_sequence_number": 3, "added_snapshot_id": 10,
          "added_files_count": 1, "existing_files_count": 0,
          "deleted_files_count": 0, "added_rows_count": 5,
          "existing_rows_count": 0, "deleted_rows_count": 0,
          "key_metadata": None}
    _, out = read_container(write_container(_MANIFEST_LIST_SCHEMA, [ml]))
    assert out == [ml]


# --------------------------------------------------------- export/read

def _mk(spark, wh, rows=30):
    from tostore_spark.engine import ToStoreSpark
    from tostore_spark.schema import (DataType, FieldSchema,
                                      PrimaryKeyConfig, TableSchema)
    db = ToStoreSpark(spark, warehouse=wh)
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="body", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "body": f"b{i}", "n": i} for i in range(rows)])
    db.flush()
    return db


def _rows(df):
    return sorted(tuple(r) for r in
                  df.select(*sorted(df.columns)).collect())


def test_export_roundtrip_and_time_travel(spark, tmp_path):
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "ice")
    rep = export_iceberg(db, "notes", dest, mode="overwrite")
    assert rep["rows"] == 30 and rep["snapshot_id"] == 1
    back = read_iceberg(spark, dest)
    assert _rows(back) == _rows(db.df("notes"))
    # data files carry parquet field ids (the foreign-reader contract)
    import pyarrow.parquet as pq
    ddir = os.path.join(dest, "data")
    f0 = os.path.join(ddir, sorted(os.listdir(ddir))[0])
    sch = pq.ParquetFile(f0).schema_arrow
    assert all(f.metadata and b"PARQUET:field_id" in f.metadata
               for f in sch)

    before = _rows(db.df("notes"))
    db.batch_insert("notes", [{"id": f"x{i}", "body": "a", "n": 100 + i}
                              for i in range(5)])
    db.flush()
    rep2 = export_iceberg(db, "notes", dest, mode="append")
    assert rep2["snapshot_id"] == 2 and rep2["sequence_number"] == 2
    # append committed the CURRENT frame as an extra snapshot
    assert read_iceberg(spark, dest).count() == 30 + 35
    assert _rows(read_iceberg(spark, dest, snapshot_id=1)) == before
    # metadata versions both present; hint points at the latest
    mdir = os.path.join(dest, "metadata")
    assert os.path.exists(os.path.join(mdir, "v1.metadata.json"))
    assert os.path.exists(os.path.join(mdir, "v2.metadata.json"))
    with open(os.path.join(mdir, "version-hint.text")) as fh:
        assert fh.read().strip() == "2"


def test_export_mode_guards(spark, tmp_path):
    db = _mk(spark, str(tmp_path / "wh"), rows=5)
    dest = str(tmp_path / "ice")
    export_iceberg(db, "notes", dest)
    with pytest.raises(ValueError, match="exists"):
        export_iceberg(db, "notes", dest)     # mode="error"
    rep = export_iceberg(db, "notes", dest, mode="overwrite")
    assert rep["snapshot_id"] == 1            # fresh table again


def test_engine_surface(spark, tmp_path):
    db = _mk(spark, str(tmp_path / "wh"), rows=8)
    dest = str(tmp_path / "ice")
    export_iceberg(db, "notes", dest)
    db.register_table("notes_ice", df=read_iceberg(db.spark, dest))
    assert _rows(db.df("notes_ice")) == _rows(db.df("notes"))


# --------------------------------------------- foreign v2 MoR fixture

def _pa_field(name, typ, fid):
    import pyarrow as pa
    return pa.field(name, typ,
                    metadata={b"PARQUET:field_id": str(fid).encode()})


def _foreign_table(tmp_path) -> str:
    """Hand-construct an Iceberg v2 table (no exporter involvement):

    * data file A (data_seq 1): ids 1..10, n = id*10
    * data file B (data_seq 3, INHERITED from its manifest-list entry):
      ids 11..15
    * position delete (seq 2): (A, pos 0), (A, pos 1) → kills ids 1,2
      in A (2 >= 1) but would NOT touch B (2 < 3)
    * equality delete on n (seq 3): n ∈ {50, 120} → kills id 5 in A
      (1 < 3) but NOT id 12 in B (3 < 3 is false — strictly older only)
    * equality delete on n (seq 4): n ∈ {40, 110} → kills id 4 (A) and
      id 11 (B)

    Expected live ids: 3, 6, 7, 8, 9, 10, 12, 13, 14, 15."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = str(tmp_path / "ft")
    ddir, mdir = os.path.join(loc, "data"), os.path.join(loc, "metadata")
    os.makedirs(ddir)
    os.makedirs(mdir)
    dschema = pa.schema([_pa_field("id", pa.int64(), 1),
                         _pa_field("n", pa.int64(), 2)])
    fa = os.path.join(ddir, "a.parquet")
    fb = os.path.join(ddir, "b.parquet")
    pq.write_table(pa.table({"id": list(range(1, 11)),
                             "n": [i * 10 for i in range(1, 11)]},
                            schema=dschema), fa)
    pq.write_table(pa.table({"id": list(range(11, 16)),
                             "n": [i * 10 for i in range(11, 16)]},
                            schema=dschema), fb)
    fpos = os.path.join(ddir, "pos-del.parquet")
    pq.write_table(pa.table({"file_path": [fa, fa], "pos": [0, 1]},
                            schema=pa.schema([
                                _pa_field("file_path", pa.string(),
                                          2147483546),
                                _pa_field("pos", pa.int64(),
                                          2147483545)])), fpos)
    eqschema = pa.schema([_pa_field("n", pa.int64(), 2)])
    feq3 = os.path.join(ddir, "eq-del-3.parquet")
    feq4 = os.path.join(ddir, "eq-del-4.parquet")
    pq.write_table(pa.table({"n": [50, 120]}, schema=eqschema), feq3)
    pq.write_table(pa.table({"n": [40, 110]}, schema=eqschema), feq4)

    schema_json = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "n", "required": False, "type": "long"}]}

    def _entry(fpath, content, seq, eq_ids=None, rows=1):
        return {"status": 1, "snapshot_id": 10, "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {"content": content, "file_path": fpath,
                              "file_format": "PARQUET", "partition": {},
                              "record_count": rows,
                              "file_size_in_bytes":
                                  os.path.getsize(fpath),
                              "equality_ids": eq_ids}}

    manifests = [
        # (name, list_seq, entries) — B's entry has a NULL seq to
        # exercise v2 inheritance from the manifest-list entry
        ("m-data-a.avro", 1, [_entry(fa, 0, 1, rows=10)]),
        ("m-data-b.avro", 3, [_entry(fb, 0, None, rows=5)]),
        ("m-del-pos.avro", 2, [_entry(fpos, 1, 2, rows=2)]),
        ("m-del-eq3.avro", 3, [_entry(feq3, 2, 3, eq_ids=[2], rows=2)]),
        ("m-del-eq4.avro", 4, [_entry(feq4, 2, 4, eq_ids=[2], rows=2)]),
    ]
    ml_entries = []
    for name, seq, entries in manifests:
        mp = os.path.join(mdir, name)
        write_container_file(
            mp, _MANIFEST_ENTRY_SCHEMA, entries,
            meta={"schema": json.dumps(schema_json),
                  "partition-spec": "[]", "partition-spec-id": "0",
                  "format-version": "2",
                  "content": "data" if "data" in name else "deletes"})
        ml_entries.append({
            "manifest_path": mp,
            "manifest_length": os.path.getsize(mp),
            "partition_spec_id": 0,
            "content": 0 if "data" in name else 1,
            "sequence_number": seq, "min_sequence_number": seq,
            "added_snapshot_id": 10, "added_files_count": len(entries),
            "existing_files_count": 0, "deleted_files_count": 0,
            "added_rows_count": sum(e["data_file"]["record_count"]
                                    for e in entries),
            "existing_rows_count": 0, "deleted_rows_count": 0,
            "key_metadata": None})
    ml = os.path.join(mdir, "snap-10-1-x.avro")
    write_container_file(ml, _MANIFEST_LIST_SCHEMA, ml_entries,
                         meta={"format-version": "2"})
    meta = {"format-version": 2, "table-uuid": "0" * 32, "location": loc,
            "last-sequence-number": 4, "last-updated-ms": 1000,
            "last-column-id": 2, "current-schema-id": 0,
            "schemas": [schema_json], "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "last-partition-id": 999, "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {}, "current-snapshot-id": 10,
            "snapshots": [{"snapshot-id": 10, "sequence-number": 4,
                           "timestamp-ms": 1000,
                           "summary": {"operation": "append"},
                           "manifest-list": ml, "schema-id": 0}],
            "snapshot-log": [], "metadata-log": []}
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write("1")
    return loc


def test_foreign_mor_sequence_scoping(spark, tmp_path):
    loc = _foreign_table(tmp_path)
    df = read_iceberg(spark, loc)
    ids = sorted(r["id"] for r in df.collect())
    assert ids == [3, 6, 7, 8, 9, 10, 12, 13, 14, 15]
    # columns resolve to the table schema's names and order
    assert df.columns == ["id", "n"]


def test_foreign_rename_resolves_by_field_id(spark, tmp_path):
    """The current schema renames n → qty (same field id 2); the
    parquet still calls it n.  Field-id resolution must bind it."""
    loc = _foreign_table(tmp_path)
    mpath = os.path.join(loc, "metadata", "v1.metadata.json")
    with open(mpath) as fh:
        meta = json.load(fh)
    meta["schemas"][0]["fields"][1]["name"] = "qty"
    with open(mpath, "w") as fh:
        json.dump(meta, fh)
    df = read_iceberg(spark, loc)
    assert df.columns == ["id", "qty"]
    got = {r["id"]: r["qty"] for r in df.collect()}
    assert got[3] == 30 and got[15] == 150


def test_refusals(spark, tmp_path):
    loc = _foreign_table(tmp_path)
    mpath = os.path.join(loc, "metadata", "v1.metadata.json")
    with open(mpath) as fh:
        meta = json.load(fh)
    meta["format-version"] = 3
    with open(mpath, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="format-version 3"):
        read_iceberg(spark, loc)
    with pytest.raises(ValueError, match="snapshot 999 not found"):
        meta["format-version"] = 2
        with open(mpath, "w") as fh:
            json.dump(meta, fh)
        read_iceberg(spark, loc, snapshot_id=999)


def test_empty_table_reads_empty_with_schema(spark, tmp_path):
    loc = str(tmp_path / "empty")
    mdir = os.path.join(loc, "metadata")
    os.makedirs(mdir)
    schema_json = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": True, "type": "long"}]}
    meta = {"format-version": 2, "location": loc, "schemas": [schema_json],
            "current-schema-id": 0, "snapshots": [],
            "current-snapshot-id": None}
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    df = read_iceberg(spark, loc)
    assert df.count() == 0 and df.columns == ["id"]


# ------------------------------------------------- incremental updates

def test_update_mode_append_mor_noop_refresh(spark, tmp_path):
    """mode='update' lifecycle: fresh snapshot → O(delta) append →
    merge-on-read position deletes → noop → dirty fallback refresh."""
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "ice")
    r0 = export_iceberg(db, "notes", dest, mode="update")
    assert r0["commit"] == "snapshot" and r0["rows"] == 30

    db.batch_insert("notes", [{"id": f"x{i}", "body": "a", "n": 100 + i}
                              for i in range(4)])
    db.flush()
    r1 = export_iceberg(db, "notes", dest, mode="update")
    assert r1["commit"] == "append" and r1["rows"] == 4   # delta only

    db.delete("notes").where("n", ">=", 102).execute()
    db.flush()
    r2 = export_iceberg(db, "notes", dest, mode="update")
    # pure-delete epochs take the EQUALITY-delete route: the key frame
    # IS the delete file — zero probe of the live export
    assert r2["commit"] == "eqdel" and r2["files"] == 0
    assert r2["delete_keys"] == 2                         # no restage
    assert _rows(read_iceberg(spark, dest)) == _rows(db.df("notes"))
    # every snapshot still time-travels
    assert read_iceberg(spark, dest, snapshot_id=1).count() == 30
    assert read_iceberg(spark, dest, snapshot_id=2).count() == 34
    assert read_iceberg(spark, dest, snapshot_id=3).count() == 32

    r3 = export_iceberg(db, "notes", dest, mode="update")
    assert r3["commit"] == "noop"

    # a DIRTY export (unflushed rows) cannot prove an extension:
    # refresh tier, still exact
    db.batch_insert("notes", [{"id": "z1", "body": "d", "n": 500}])
    r4 = export_iceberg(db, "notes", dest, mode="update")
    assert r4["commit"] == "refresh"
    assert _rows(read_iceberg(spark, dest)) == _rows(db.df("notes"))


def test_update_mode_replace_epoch(spark, tmp_path):
    """An upsert (replace epoch = seg+del tail) commits as ONE MoR
    snapshot: the new row staged, the old version position-deleted."""
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "ice")
    export_iceberg(db, "notes", dest, mode="update")
    db.batch_upsert("notes", [{"id": "k003", "body": "CH", "n": 333},
                              {"id": "new1", "body": "N", "n": 999}])
    db.flush()
    r = export_iceberg(db, "notes", dest, mode="update")
    assert r["commit"] == "mor" and r["rows"] == 2
    assert r["delete_positions"] == 1                     # old k003
    got = _rows(read_iceberg(spark, dest))
    assert got == _rows(db.df("notes"))


def test_update_mode_same_commit_insert_delete(spark, tmp_path):
    """Rows inserted and deleted within one flush epoch pair: the
    staged file's position delete applies at equal sequence numbers
    (spec: position deletes hit data_seq <= delete_seq)."""
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "ice")
    export_iceberg(db, "notes", dest, mode="update")
    db.batch_insert("notes", [{"id": f"x{i}", "body": "a", "n": 100 + i}
                              for i in range(3)])
    db.delete("notes").where("n", "=", 101).execute()
    db.delete("notes").where("n", "=", 3).execute()
    db.flush()
    r = export_iceberg(db, "notes", dest, mode="update")
    assert r["commit"] == "mor"
    got = {x[2] for x in _rows(read_iceberg(spark, dest))}
    assert 101 not in got and 3 not in got
    assert {100, 102} <= got
    assert _rows(read_iceberg(spark, dest)) == _rows(db.df("notes"))


def test_mirror_iceberg_auto_exports_on_flush(spark, tmp_path):
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "ice")
    rep = db.mirror_iceberg("notes", dest)
    assert rep["commit"] == "snapshot"
    db.delete("notes").where("n", "=", 7).execute()
    db.flush()                                   # auto-exports MoR
    assert db.last_mirror_error is None
    got = _rows(read_iceberg(spark, dest))
    assert got == _rows(db.df("notes"))
    assert db.unmirror_iceberg("notes") is True
    db.batch_insert("notes", [{"id": "q1", "body": "m", "n": 77}])
    db.flush()                                   # no longer mirrored
    assert len(_rows(read_iceberg(spark, dest))) == 29


def test_expire_snapshots(spark, tmp_path):
    """expireSnapshots: all but the newest N snapshots drop atomically
    (next metadata version), their exclusive files reclaim, retained
    snapshots keep time-traveling exactly."""
    from tostore_spark.plans.iceberg import expire_snapshots
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "ice")
    export_iceberg(db, "notes", dest, mode="update")       # snap 1
    db.batch_insert("notes", [{"id": "x1", "body": "a", "n": 100}])
    db.flush()
    export_iceberg(db, "notes", dest, mode="update")       # snap 2
    db.delete("notes").where("n", "=", 100).execute()
    db.flush()
    export_iceberg(db, "notes", dest, mode="update")       # snap 3 MoR

    before = _rows(read_iceberg(spark, dest))
    rep = expire_snapshots(dest, keep_last=2, dry_run=True)
    assert rep["expired"] == [1] and rep["kept"] == 2
    # dry run touched nothing
    assert read_iceberg(spark, dest, snapshot_id=1).count() == 30

    rep = expire_snapshots(dest, keep_last=2)
    assert rep["expired"] == [1]
    # snapshot 1's manifest-list is gone from metadata AND unreadable
    with pytest.raises(ValueError, match="snapshot 1 not found"):
        read_iceberg(spark, dest, snapshot_id=1)
    # retained snapshots: exact current state, snapshot-2 time travel
    assert _rows(read_iceberg(spark, dest)) == before
    assert read_iceberg(spark, dest, snapshot_id=2).count() == 31
    # down to the single current snapshot; state still exact
    rep = expire_snapshots(dest, keep_last=1)
    assert rep["expired"] == [2] and rep["kept"] == 1
    assert _rows(read_iceberg(spark, dest)) == before


def test_partition_filter_prunes_files_at_manifest_level(spark,
                                                         tmp_path):
    """A foreign identity-partitioned table: partition_filter must cut
    the non-matching data file from the SCAN (inputFiles), not just
    the rows, and the row predicate still re-applies."""
    import copy

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tostore_spark.plans.iceberg import _MANIFEST_ENTRY_SCHEMA

    loc = str(tmp_path / "pt")
    ddir, mdir = os.path.join(loc, "data"), os.path.join(loc, "metadata")
    os.makedirs(ddir)
    os.makedirs(mdir)
    dschema = pa.schema([_pa_field("id", pa.int64(), 1),
                         _pa_field("grp", pa.string(), 2)])
    fa, fb = (os.path.join(ddir, "a.parquet"),
              os.path.join(ddir, "b.parquet"))
    pq.write_table(pa.table({"id": [1, 2], "grp": ["a", "a"]},
                            schema=dschema), fa)
    pq.write_table(pa.table({"id": [3, 4], "grp": ["b", "b"]},
                            schema=dschema), fb)

    # manifest-entry schema whose partition record carries the spec
    # field (foreign writers embed the spec's struct there)
    mes = copy.deepcopy(_MANIFEST_ENTRY_SCHEMA)
    part_field = next(
        f for f in mes["fields"][4]["type"]["fields"]
        if f["name"] == "partition")
    part_field["type"]["fields"] = [
        {"name": "grp", "type": ["null", "string"], "field-id": 1000,
         "default": None}]

    schema_json = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "grp", "required": False, "type": "string"}]}

    def _entry(fpath, grp):
        return {"status": 1, "snapshot_id": 7, "sequence_number": 1,
                "file_sequence_number": 1,
                "data_file": {"content": 0, "file_path": fpath,
                              "file_format": "PARQUET",
                              "partition": {"grp": grp},
                              "record_count": 2,
                              "file_size_in_bytes":
                                  os.path.getsize(fpath),
                              "equality_ids": None}}

    mp = os.path.join(mdir, "m0.avro")
    write_container_file(
        mp, mes, [_entry(fa, "a"), _entry(fb, "b")],
        meta={"schema": json.dumps(schema_json),
              "partition-spec": json.dumps([
                  {"name": "grp", "transform": "identity",
                   "source-id": 2, "field-id": 1000}]),
              "partition-spec-id": "0", "format-version": "2",
              "content": "data"})
    from tostore_spark.plans.iceberg import _MANIFEST_LIST_SCHEMA
    ml = os.path.join(mdir, "snap-7.avro")
    write_container_file(ml, _MANIFEST_LIST_SCHEMA, [{
        "manifest_path": mp, "manifest_length": os.path.getsize(mp),
        "partition_spec_id": 0, "content": 0, "sequence_number": 1,
        "min_sequence_number": 1, "added_snapshot_id": 7,
        "added_files_count": 2, "existing_files_count": 0,
        "deleted_files_count": 0, "added_rows_count": 4,
        "existing_rows_count": 0, "deleted_rows_count": 0,
        "key_metadata": None}], meta={"format-version": "2"})
    meta = {"format-version": 2, "location": loc,
            "last-sequence-number": 1, "current-schema-id": 0,
            "schemas": [schema_json], "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": [
                {"name": "grp", "transform": "identity",
                 "source-id": 2, "field-id": 1000}]}],
            "current-snapshot-id": 7,
            "snapshots": [{"snapshot-id": 7, "sequence-number": 1,
                           "timestamp-ms": 1000,
                           "summary": {"operation": "append"},
                           "manifest-list": ml, "schema-id": 0}]}
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write("1")

    full = read_iceberg(spark, loc)
    assert full.count() == 4
    pruned = read_iceberg(spark, loc, partition_filter={"grp": "a"})
    assert sorted(r["id"] for r in pruned.collect()) == [1, 2]
    # the b file never enters the scan
    files = pruned.inputFiles()
    assert any("a.parquet" in f for f in files)
    assert not any("b.parquet" in f for f in files)
    # non-identity / unknown filter columns keep everything (and the
    # row re-filter still narrows correctly)
    loose = read_iceberg(spark, loc, partition_filter={"nope": "x"})
    assert loose.count() == 4


def test_v1_format_table_reads(spark, tmp_path):
    """Iceberg FORMAT VERSION 1 layout: singular 'schema' /
    'partition-spec' metadata keys, no sequence numbers anywhere,
    v1 manifest-list field names — the reader must fold it with
    data_seq 0 throughout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = str(tmp_path / "v1t")
    ddir, mdir = os.path.join(loc, "data"), os.path.join(loc, "metadata")
    os.makedirs(ddir)
    os.makedirs(mdir)
    dschema = pa.schema([_pa_field("id", pa.int64(), 1)])
    fa = os.path.join(ddir, "a.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3]}, schema=dschema), fa)

    schema_json = {"type": "struct", "fields": [
        {"id": 1, "name": "id", "required": True, "type": "long"}]}
    # v1 manifest entry: no sequence/file_sequence numbers, no
    # data_file.content — decode rides the file's own writer schema
    v1_entry_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": "long", "field-id": 1},
            {"name": "data_file", "field-id": 2, "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "file_path", "type": "string",
                     "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition", "field-id": 102, "type": {
                        "type": "record", "name": "r102",
                        "fields": []}},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                ]}}]}
    mp = os.path.join(mdir, "m0.avro")
    write_container_file(
        mp, v1_entry_schema,
        [{"status": 1, "snapshot_id": 5,
          "data_file": {"file_path": fa, "file_format": "PARQUET",
                        "partition": {}, "record_count": 3,
                        "file_size_in_bytes": os.path.getsize(fa)}}],
        meta={"schema": json.dumps(schema_json),
              "partition-spec": "[]", "format-version": "1"})
    # v1 manifest list: added_data_files_count names, no content/seq
    v1_ml_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int",
             "field-id": 502},
            {"name": "added_snapshot_id", "type": ["null", "long"],
             "field-id": 503, "default": None},
            {"name": "added_data_files_count", "type": ["null", "int"],
             "field-id": 504, "default": None},
        ]}
    ml = os.path.join(mdir, "snap-5.avro")
    write_container_file(ml, v1_ml_schema, [{
        "manifest_path": mp, "manifest_length": os.path.getsize(mp),
        "partition_spec_id": 0, "added_snapshot_id": 5,
        "added_data_files_count": 1}], meta={"format-version": "1"})
    meta = {"format-version": 1, "location": loc,
            "schema": schema_json,              # v1 singular key
            "partition-spec": [],
            "current-snapshot-id": 5,
            "snapshots": [{"snapshot-id": 5, "timestamp-ms": 1000,
                           "manifest-list": ml}]}
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write("1")

    df = read_iceberg(spark, loc)
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]
    assert df.columns == ["id"]


def test_schema_evolution_on_update_export(spark, tmp_path):
    """A store migration (add_field) falls to the refresh tier, which
    must append a NEW schema (new schema-id) so readers see the added
    column — while every pre-evolution snapshot time-travels under ITS
    schema-id (field ids bind per snapshot, never mis-resolve)."""
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "ice")
    export_iceberg(db, "notes", dest, mode="update")       # snap 1
    from tostore_spark.schema import DataType, FieldSchema
    db.update_schema("notes").add_field(
        FieldSchema(name="extra", type=DataType.integer,
                    default_value=7)).execute()
    db.flush()
    r = export_iceberg(db, "notes", dest, mode="update")
    assert r["commit"] == "refresh"
    cur = read_iceberg(spark, dest)
    assert "extra" in cur.columns
    assert cur.filter("extra = 7").count() == 30
    old = read_iceberg(spark, dest, snapshot_id=1)
    assert "extra" not in old.columns and old.count() == 30
    # post-evolution appends extend the evolved schema incrementally
    db.batch_insert("notes", [{"id": "z1", "body": "b", "n": 99,
                               "extra": 5}])
    db.flush()
    r2 = export_iceberg(db, "notes", dest, mode="update")
    assert r2["commit"] == "append" and r2["rows"] == 1
    got = read_iceberg(spark, dest)
    assert got.count() == 31
    assert got.filter("extra = 5").count() == 1
