"""Backup / restore: parquet snapshot directories + a JSON manifest.

Reference: ZIP backup of the current space (+ optionally global tables) and
restore (lib/tostore.dart:817-839; core/backup_manager.dart).

Spark-first: a backup is a directory of per-table parquet snapshots written
with the normal distributed writer (no driver bottleneck), plus a manifest
recording schemas and the space.  Restore re-registers the snapshots.
"""

from __future__ import annotations

import dataclasses
import json
import os
from typing import Optional

from tostore_spark.at_rest import to_visible
from tostore_spark.schema import (DataType, FieldSchema, ForeignKeyAction,
                                  ForeignKeySchema, IndexSchema, IndexType,
                                  PrimaryKeyConfig, PrimaryKeyType,
                                  TableSchema, TableTtlConfig)


def _schema_to_dict(sch: TableSchema) -> dict:
    out = {
        "name": sch.name,
        "is_global": sch.is_global,
        "primary_key": dataclasses.asdict(sch.primary_key) if sch.primary_key else None,
        "fields": [
            {"name": f.name, "type": f.type.value, "nullable": f.nullable,
             "unique": f.unique, "create_index": f.create_index,
             "encrypted": getattr(f, "encrypted", False)}
            for f in sch.fields
        ],
    }
    # the schema's BEHAVIORAL config must round-trip the manifest too:
    # a reopened engine without the TTL would surface expired-but-
    # unswept base rows (flush fast paths keep them on disk), without
    # the FK/index config it would stop validating
    if sch.ttl is not None:
        out["ttl"] = {"ttl_ms": sch.ttl.ttl_ms,
                      "source_field": sch.ttl.source_field}
    if sch.foreign_keys:
        out["foreign_keys"] = [
            {"fields": list(fk.fields),
             "referenced_table": fk.referenced_table,
             "referenced_fields": list(fk.referenced_fields),
             "on_delete": fk.on_delete.value,
             "on_update": fk.on_update.value,
             "name": fk.name}
            for fk in sch.foreign_keys]
    if sch.indexes:
        out["indexes"] = [
            {"fields": list(ix.fields), "index_name": ix.index_name,
             "unique": ix.unique, "type": ix.type.value,
             "vector_config": ix.vector_config}
            for ix in sch.indexes]
    return out


def _schema_from_dict(d: dict) -> TableSchema:
    pk = None
    if d.get("primary_key"):
        p = d["primary_key"]
        pk = PrimaryKeyConfig(name=p["name"], type=PrimaryKeyType(p["type"]))
    ttl = None
    if d.get("ttl"):
        ttl = TableTtlConfig(ttl_ms=int(d["ttl"].get("ttl_ms") or 0),
                             source_field=d["ttl"].get("source_field"))
    fks = [ForeignKeySchema(
        fields=list(fk["fields"]),
        referenced_table=fk["referenced_table"],
        referenced_fields=list(fk["referenced_fields"]),
        on_delete=ForeignKeyAction(fk.get("on_delete", "restrict")),
        on_update=ForeignKeyAction(fk.get("on_update", "restrict")),
        name=fk.get("name")) for fk in d.get("foreign_keys") or []]
    ixs = [IndexSchema(
        fields=list(ix["fields"]), index_name=ix.get("index_name"),
        unique=ix.get("unique", False),
        type=IndexType(ix.get("type", "btree")),
        vector_config=ix.get("vector_config"))
        for ix in d.get("indexes") or []]
    return TableSchema(
        name=d["name"], is_global=d.get("is_global", False), primary_key=pk,
        ttl=ttl, foreign_keys=fks, indexes=ixs,
        fields=[FieldSchema(name=f["name"], type=DataType(f["type"]),
                            nullable=f.get("nullable", True),
                            unique=f.get("unique", False),
                            create_index=f.get("create_index", False),
                            encrypted=f.get("encrypted", False))
                for f in d.get("fields", [])])


def backup(engine, backup_dir: str, include_global: bool = True) -> str:
    """Snapshot every table in the current space (and global tables) to
    ``backup_dir`` as parquet + manifest.json.  Returns the directory."""
    os.makedirs(backup_dir, exist_ok=True)
    manifest = {"space": engine.current_space, "tables": []}
    for name in engine.table_names():
        sch = engine.schema(name)
        if sch.is_global and not include_global:
            continue
        path = os.path.join(backup_dir, f"{name}.parquet")
        ent = engine._tables[engine._resolve(name)]
        # at-rest contract: a backup of an encrypted table stays
        # CIPHERTEXT (df() would decrypt — a silent declassify), so
        # only the TTL half of the read boundary applies
        frame = to_visible(ent["df"], ent["schema"])
        frame.write.mode("overwrite").parquet(path)
        manifest["tables"].append(_schema_to_dict(sch))
    # KV state rides in the manifest (driver-resident dict; the reference's
    # ZIP backup includes its KV system table the same way)
    if hasattr(engine, "_kv"):
        manifest["kv"] = [
            [sp, key, val, exp.isoformat() if exp else None]
            for (sp, key), (val, exp) in engine._kv.snapshot().items()
        ]
    with open(os.path.join(backup_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)
    return backup_dir


def restore(engine, backup_dir: str, space: Optional[str] = None) -> list[str]:
    """Re-register every table from a backup into the engine (into ``space``
    or the backup's recorded space).  Returns restored table names."""
    with open(os.path.join(backup_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    prev = engine.current_space
    engine.switch_space(space or manifest.get("space", "default"))
    restored = []
    try:
        for tdict in manifest["tables"]:
            sch = _schema_from_dict(tdict)
            path = os.path.join(backup_dir, f"{sch.name}.parquet")
            engine.register_table(sch.name, path=path, schema=sch,
                                  is_global=sch.is_global,
                                  pre_encrypted=True)
            restored.append(sch.name)
    finally:
        engine.switch_space(prev)
    if manifest.get("kv"):
        import datetime
        engine.kv.restore({
            (sp, key): (val, datetime.datetime.fromisoformat(exp) if exp else None)
            for sp, key, val, exp in manifest["kv"]})
    return restored
