"""The stored↔visible boundary (``tostore_spark.at_rest.to_stored`` /
``to_visible``): the one-call-site rule, the plain-table identity it
must keep, and one A/B run of every read surface over a table that has
both a TTL and an encrypted field."""
import ast
import datetime
import os
import time

import pytest
from pyspark.sql import functions as F

from tostore_spark import EncryptionConfig
from tostore_spark import store as S
from tostore_spark.engine import ToStoreSpark
from tostore_spark.plans.delta_export import export_delta, read_delta
from tostore_spark.plans.iceberg import export_iceberg, read_iceberg
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema, TableTtlConfig)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY = "boundary-test-passphrase"
COLS = ["id", "n", "secret", "created"]


def _calls(names):
    """(module, enclosing function, callee) for every call in the
    package to one of ``names``."""
    hits = set()
    pkg = os.path.join(REPO, "tostore_spark")

    def walk(node, rel, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, rel, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                callee = (f.id if isinstance(f, ast.Name) else
                          f.attr if isinstance(f, ast.Attribute) else None)
                if callee in names:
                    hits.add((rel, fn, callee))
            walk(child, rel, fn)

    for root, _dirs, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as fh:
                    walk(ast.parse(fh.read()), os.path.relpath(path, pkg),
                         None)
    return hits


def test_boundary_functions_are_the_only_callers():
    """TTL filtering, decryption and encryption each have one call
    site: the boundary function that owns that direction."""
    assert _calls({"ttl_filter", "decrypt_frame", "encrypt_frame"}) == {
        ("at_rest.py", "to_visible", "ttl_filter"),
        ("at_rest.py", "to_visible", "decrypt_frame"),
        ("at_rest.py", "to_stored", "encrypt_frame"),
    }


@pytest.mark.parametrize("encryption", [None, EncryptionConfig(key=KEY)])
def test_plain_table_read_is_the_registry_frame(spark, tmp_path,
                                                monkeypatch, encryption):
    """A table with no TTL and no encrypted field reads back as the
    registry frame object itself: no plan node, no py4j call."""
    db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"),
                      encryption=encryption)
    db.register_table("t", df=spark.range(5))
    ent = db._tables[("default", "t")]
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*a, **kw):
        calls.append(a)
        return send(*a, **kw)

    monkeypatch.setattr(client, "send_command", counting)
    out = db.df("t")
    monkeypatch.setattr(client, "send_command", send)
    assert out is ent["df"]
    assert calls == []


def _schema():
    return TableSchema(
        name="t", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema("n", DataType.integer),
                FieldSchema("secret", DataType.text, encrypted=True),
                FieldSchema("created", DataType.datetime)],
        ttl=TableTtlConfig(ttl_ms=900, source_field="created"))


def _rows(df):
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def test_every_read_surface_matches_df(spark, tmp_path, monkeypatch):
    """Expired-but-unswept rows (one in the base, one in an appended
    segment), a segment commit and a deletion vector: every surface
    shows exactly ``df()``, in plaintext — a reopen, ``df_at``,
    ``snapshot().df``, a pruned query, ``table_diff`` on its recipe
    and its exceptAll paths, and the Delta/Iceberg incremental
    appends.  The backup holds ciphertext with the TTL applied."""
    wh = str(tmp_path / "wh")
    enc = EncryptionConfig(key=KEY)
    db = ToStoreSpark(spark, warehouse=wh, encryption=enc)
    db.create_table(_schema())
    key = ("default", "t")
    now = datetime.datetime.now()
    far = now + datetime.timedelta(hours=1)
    # live through both flushes below, expired once the test sleeps
    aging_at = now + datetime.timedelta(seconds=20)
    db.batch_insert("t", [
        {"id": f"k{i}", "n": i, "secret": f"s{i}", "created": far}
        for i in range(6)] + [
        {"id": "aging_base", "n": 6, "secret": "sb", "created": aging_at}])
    db.flush()
    v1 = db._generations[key]
    dpath, ipath = str(tmp_path / "delta"), str(tmp_path / "ice")
    export_delta(db, "t", dpath, allow_decrypted=True)
    export_iceberg(db, "t", ipath, allow_decrypted=True)
    d0, i0 = read_delta(spark, dpath), read_iceberg(spark, ipath)

    db.append_rows("t", db.spark.createDataFrame(
        [("n1", 100, "x1", far), ("n2", 101, "x2", far),
         ("aging_seg", 102, "xs", aging_at)],
        "id string, n int, secret string, created timestamp"
    ).select(*db.df("t").columns))
    db.flush()
    ent = db._tables[key]
    assert [k for k, _p in ent["ops"]] == ["seg", "seg"]
    time.sleep(max((aging_at - datetime.datetime.now()).total_seconds()
                   + 0.9 + 0.5, 0))
    # both aging rows are on disk, unswept, and hidden by df()
    raw = spark.read.parquet(*ent["segments"])
    assert {"aging_base", "aging_seg"} <= {r["id"] for r in raw.collect()}
    visible = db.df("t")
    assert [r[:3] for r in _rows(visible)] == [
        ("k0", 0, "s0"), ("k1", 1, "s1"), ("k2", 2, "s2"), ("k3", 3, "s3"),
        ("k4", 4, "s4"), ("k5", 5, "s5"), ("n1", 100, "x1"),
        ("n2", 101, "x2")]

    # incremental appends: exactly the visible rows of the new segment
    seg_rows = _rows(visible.filter(F.col("n") >= 100))
    assert export_delta(db, "t", dpath, mode="update",
                        allow_decrypted=True)["commit"] == "append"
    assert _rows(read_delta(spark, dpath).exceptAll(d0)) == seg_rows
    assert export_iceberg(db, "t", ipath, mode="update",
                          allow_decrypted=True)["commit"] == "append"
    assert _rows(read_iceberg(spark, ipath).exceptAll(i0)) == seg_rows

    # deletion vector
    db.delete("t").where("id", "=", "k0").execute()
    db.flush()
    v3 = db._generations[key]
    assert db._tables[key]["ops"][-1][0] == "del"
    want = _rows(db.df("t"))
    assert [r[0] for r in want] == [
        "k1", "k2", "k3", "k4", "k5", "n1", "n2"]

    reopened = ToStoreSpark(spark, warehouse=wh, encryption=enc)
    assert _rows(reopened.df("t")) == want
    assert _rows(db.df_at("t", v3)) == want
    snap = db.snapshot()
    try:
        assert _rows(snap.df("t")) == want
    finally:
        snap.release()
    pruned = db.query("t").where("n", ">=", 100).df()
    kept, total, _t = db._last_prune
    assert kept < total
    assert _rows(pruned) == [r for r in want if r[1] >= 100]

    def diff(df):
        return sorted(tuple(r) for r in df.select(*COLS, "change")
                      .collect())

    added = [r + ("insert",) for r in want if r[0] in ("n1", "n2")]
    removed = [r + ("delete",) for r in _rows(db.df_at("t", v1))
               if r[0] == "k0"]
    assert S._diff_from_recipe(db, "t", v1, v3, "default") is not None
    recipe = diff(db.table_diff("t", v1, v3))
    monkeypatch.setattr(S, "_diff_from_recipe", lambda *a: None)
    except_all = diff(db.table_diff("t", v1, v3))
    assert recipe == except_all == sorted(added + removed)
    db.unpin_versions()

    bdir = str(tmp_path / "backup")
    db.backup(bdir)
    stored = spark.read.parquet(os.path.join(bdir, "t.parquet"))
    assert sorted(r["id"] for r in stored.collect()) == [r[0] for r in want]
    secrets = {r["secret"] for r in stored.collect()}
    assert secrets.isdisjoint({r[2] for r in want})
    restored = ToStoreSpark(spark, encryption=enc)
    restored.restore(bdir)
    assert _rows(restored.df("t")) == want
