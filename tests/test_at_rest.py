"""At-rest encryption (tostore_spark.at_rest): fields marked
``encrypted=True`` are ciphertext everywhere between the engine
boundaries — flushed segments, deltas, versions, backups — and
plaintext at every user-facing read.  Reference capability:
EncryptionConfig, data_store_config.dart:40-41,946-1005."""
import json
import os

import pytest

from tostore_spark import EncryptionConfig
from tostore_spark.engine import ToStoreSpark
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema)
from tostore_spark.plans.delta_export import export_delta

KEY = "round11-test-passphrase"


def _sch(name="people", **kw):
    return TableSchema(
        name=name, primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="email", type=DataType.text,
                            encrypted=True),
                FieldSchema(name="note", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)], **kw)


def _mk(spark, wh, rows=8):
    db = ToStoreSpark(spark, warehouse=wh,
                      encryption=EncryptionConfig(key=KEY))
    db.create_table(_sch())
    db.batch_insert("people", [
        {"id": f"p{i:02d}", "email": f"user{i}@example.com",
         "note": f"plain{i}", "n": i} for i in range(rows)])
    db.flush()
    return db


def _raw_strings(path):
    """Every string value physically present under a version dir."""
    import pyarrow.parquet as pq
    vals = []
    for dirpath, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in names:
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(dirpath, f))
                for col in t.column_names:
                    if str(t.schema.field(col).type) == "string":
                        vals.extend(x for x in t[col].to_pylist()
                                    if x is not None)
    return vals


class TestAtRestRoundtrip:
    def test_disk_is_ciphertext_reads_are_plaintext(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh)
        vdir = db._tables[("default", "people")]["path"]
        raw = _raw_strings(vdir)
        assert raw, "flushed files must hold data"
        assert not any("@example.com" in v for v in raw), \
            "plaintext email leaked to disk"
        assert any("plain" in v for v in raw), \
            "unencrypted columns stay readable"
        rows = {r["id"]: r["email"] for r in db.df("people").collect()}
        assert rows["p03"] == "user3@example.com"
        # query path operates on plaintext
        assert db.query("people").where(
            "email", "=", "user5@example.com").count() == 1

    def test_cold_reopen_and_key_enforcement(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        _mk(spark, wh)
        db2 = ToStoreSpark(spark, warehouse=wh,
                           encryption=EncryptionConfig(key=KEY))
        assert {r["email"] for r in db2.df("people").collect()} == \
            {f"user{i}@example.com" for i in range(8)}
        with pytest.raises(ValueError, match="encrypted"):
            ToStoreSpark(spark, warehouse=wh)
        with pytest.raises(ValueError, match="wrong"):
            ToStoreSpark(spark, warehouse=wh,
                         encryption=EncryptionConfig(key="not-it"))

    def test_mor_epochs_stay_ciphertext(self, spark, tmp_path):
        """Delete vectors + replace epochs: the delta files of a MoR
        commit hold ciphertext too, and the fold reads back plaintext
        across a cold reopen."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh)
        db.delete("people").where("n", "<", 2).execute()
        db.flush()
        db.batch_upsert("people", [
            {"id": "p04", "email": "edited@example.com"},
            {"id": "new", "email": "fresh@example.com", "n": 50}])
        db.flush()
        vdir = db._tables[("default", "people")]["path"]
        raw = _raw_strings(vdir)     # the replace epoch's data part
        assert raw and not any("@example.com" in v for v in raw)
        db2 = ToStoreSpark(spark, warehouse=wh,
                           encryption=EncryptionConfig(key=KEY))
        rows = {r["id"]: r["email"] for r in db2.df("people").collect()}
        assert rows["p04"] == "edited@example.com"
        assert rows["new"] == "fresh@example.com"
        assert "p00" not in rows and len(rows) == 7

    def test_version_and_snapshot_reads_decrypt(self, spark, tmp_path):
        from tostore_spark import store as S
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=4)
        v1 = db._generations[("default", "people")]
        db.delete("people").where("id", "=", "p01").execute()
        db.flush()
        old = db.df_at("people", v1)
        assert {r["email"] for r in old.collect()} == \
            {f"user{i}@example.com" for i in range(4)}
        snap = S.snapshot(db)
        assert {r["email"] for r in snap.df("people").collect()} == \
            {f"user{i}@example.com" for i in range(4) if i != 1}

    def test_cdc_feed_is_plaintext_and_nets_noops(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from tostore_spark import store as S
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        v1 = db._generations[("default", "people")]
        db.batch_upsert("people", [
            {"id": "p02", "email": "changed@example.com"},
            {"id": "p03", "email": "user3@example.com", "note": "plain3",
             "n": 3}])                                # no-op re-write
        db.flush()
        v2 = db._generations[("default", "people")]
        feed = S.table_diff(db, "people", v1, v2)
        rows = sorted(map(tuple, feed.collect()))
        # same answer as exceptAll over the (decrypted) versions
        old = S.read_version(db, "people", v1)
        new = S.read_version(db, "people", v2)
        cols = sorted(old.columns)
        exp = (new.select(*cols).exceptAll(old.select(*cols))
               .withColumn("change", F.lit("insert"))
               .unionByName(
                   old.select(*cols).exceptAll(new.select(*cols))
                   .withColumn("change", F.lit("delete"))))
        assert rows == sorted(map(tuple, exp.collect()))
        touched = {r[cols.index("id")] for r in rows}
        assert touched == {"p02"}, \
            "the no-op re-write must net out despite fresh ciphertext"
        assert any("changed@example.com" in str(r) for r in rows)


class TestAtRestTypedFields:
    def test_nontext_fields_roundtrip_ciphertext_on_disk(self, spark,
                                                         tmp_path):
        """r11-verdict order #4: the reference encrypts ALL table data,
        not just text.  Integer / double / boolean / vector / datetime
        fields encrypt through the typed JSON envelope: ciphertext-only
        (string) on disk, declared types and exact values at every
        read, across flush AND a cold keyed reopen."""
        import datetime

        import pyarrow.parquet as pq
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh,
                          encryption=EncryptionConfig(key=KEY))
        db.create_table(TableSchema(
            name="t", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer,
                                encrypted=True),
                    FieldSchema(name="x", type=DataType.double,
                                encrypted=True),
                    FieldSchema(name="ok", type=DataType.boolean,
                                encrypted=True),
                    FieldSchema(name="vec", type=DataType.vector,
                                encrypted=True),
                    FieldSchema(name="ts", type=DataType.datetime,
                                encrypted=True),
                    FieldSchema(name="open_n", type=DataType.integer)]))
        ts0 = datetime.datetime(2026, 3, 1, 12, 30, 45, 123456)
        rows = [{"id": f"r{i}", "n": 1000 + i, "x": i + 0.25,
                 "ok": i % 2 == 0,
                 "vec": [float(i), 0.5, -1.25],
                 "ts": ts0 + datetime.timedelta(seconds=i),
                 "open_n": i}
                for i in range(6)]
        rows.append({"id": "rnull", "n": None, "x": None, "ok": None,
                     "vec": None, "ts": None, "open_n": 99})
        db.batch_insert("t", rows)
        db.flush()
        # on disk: every encrypted column is STRING ciphertext; the
        # unencrypted integer column keeps its physical type
        vdir = db._tables[("default", "t")]["path"]
        seen = []
        for dirpath, dirs, names in os.walk(vdir):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in names:
                if f.endswith(".parquet"):
                    sch = pq.ParquetFile(
                        os.path.join(dirpath, f)).schema_arrow
                    seen.append(sch)
        assert seen
        for sch in seen:
            for c in ("n", "x", "ok", "vec", "ts"):
                assert str(sch.field(c).type) == "string", \
                    f"{c} must be stored as ciphertext string"
            assert "int" in str(sch.field("open_n").type)
        # plaintext never on disk (1000..1005 unique enough to grep)
        raws = _raw_strings(vdir)
        assert not any("1000" in v or "1005" in v for v in raws)
        # cold keyed reopen: exact typed values
        db2 = ToStoreSpark(spark, warehouse=wh,
                           encryption=EncryptionConfig(key=KEY))
        got = {r["id"]: r for r in db2.df("t").collect()}
        assert dict(db2.df("t").dtypes) == {
            "id": "string", "n": "bigint", "x": "double",
            "ok": "boolean", "vec": "array<float>", "ts": "timestamp",
            "open_n": "bigint"}
        for i in range(6):
            r = got[f"r{i}"]
            assert r["n"] == 1000 + i and r["x"] == i + 0.25
            assert r["ok"] == (i % 2 == 0)
            assert r["vec"] == [float(i), 0.5, -1.25]
            assert r["ts"] == ts0 + datetime.timedelta(seconds=i)
        rn = got["rnull"]
        assert rn["n"] is None and rn["vec"] is None and \
            rn["ts"] is None and rn["open_n"] == 99
        # predicates on the encrypted numeric column: decrypted-typed
        assert db2.query("t").where("n", ">", 1003).count() == 2

    def test_typed_mor_epochs_and_append_rows(self, spark, tmp_path):
        """Typed-envelope ciphertext through the MoR fast paths: delete
        vectors, upsert replace epochs, and the append_rows public API
        (which unions onto the RAW ciphertext registry frame — the
        pre_encrypted seam)."""
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh,
                          encryption=EncryptionConfig(key=KEY))
        db.create_table(TableSchema(
            name="t", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer,
                                encrypted=True)]))
        db.batch_insert("t", [{"id": f"r{i}", "n": i}
                              for i in range(8)])
        db.flush()
        db.delete("t").where("id", "=", "r0").execute()
        db.flush()                               # deletion vector
        db.batch_upsert("t", [{"id": "r1", "n": 100}])
        db.flush()                               # replace epoch
        plain = db.df("t").select("id", "n")
        db.append_rows("t", spark.createDataFrame(
            [("r9", 9)], "id string, n long"))
        db.flush()                               # append segment
        got = {r["id"]: r["n"] for r in db.df("t").collect()}
        assert got == {**{f"r{i}": i for i in range(2, 8)},
                       "r1": 100, "r9": 9}
        db2 = ToStoreSpark(spark, warehouse=wh,
                           encryption=EncryptionConfig(key=KEY))
        assert {r["id"]: r["n"] for r in db2.df("t").collect()} == got
        raws = _raw_strings(db._tables[("default", "t")]["path"])
        assert raws and all(v.startswith(("r",)) or len(v) > 20
                            for v in raws), \
            "no plaintext n values in any epoch file"


class TestAtRestInterplay:
    def test_stats_strip_encrypted_columns(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh)
        ent = db._tables[("default", "people")]
        stats = ent.get("segment_stats") or {}
        assert stats, "footer stats still collected"
        for summ in stats.values():
            assert "email" not in summ["cols"], \
                "ciphertext bounds must not reach the manifest"
            assert "n" in summ["cols"]
        # metadata count still serves (row counts are not value stats)
        assert db.stats_count("people") == 8
        # predicates on the encrypted column never prune (undecidable)
        assert db.query("people").where(
            "email", "=", "user1@example.com").count() == 1

    def test_pruned_scan_decrypts(self, spark, tmp_path):
        """r11 ADVICE (high): a skipping-rebuilt scan (pruned_df) must
        decrypt like the standard read path.  Prune a multi-segment
        encrypted table on a PLAINTEXT column and assert plaintext
        output + a predicate on the encrypted column still matching."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh)                       # seg 1: n in 0..7
        db.batch_insert("people", [
            {"id": f"q{i:02d}", "email": f"late{i}@example.com",
             "note": f"late{i}", "n": 100 + i} for i in range(4)])
        db.flush()                                # seg 2: n in 100..103
        rows = db.query("people").where("n", ">", 50).df().collect()
        assert db._last_prune == (1, 2, "people"), \
            "the plaintext predicate must actually prune a segment"
        assert {r["email"] for r in rows} == \
            {f"late{i}@example.com" for i in range(4)}, \
            "pruned scans must return plaintext, not base64 ciphertext"
        # compound: plaintext predicate prunes, encrypted predicate
        # then filters the DECRYPTED frame (zero rows before the fix)
        assert db.query("people").where("n", ">", 50).where(
            "email", "=", "late2@example.com").count() == 1

    def test_backup_stays_ciphertext_restore_decrypts(self, spark,
                                                      tmp_path):
        wh, bdir = str(tmp_path / "wh"), str(tmp_path / "bk")
        db = _mk(spark, wh, rows=5)
        db.backup(bdir)
        raw = _raw_strings(bdir)
        assert raw and not any("@example.com" in v for v in raw), \
            "a backup must not declassify encrypted columns"
        db2 = ToStoreSpark(spark,
                           encryption=EncryptionConfig(key=KEY))
        db2.restore(bdir)
        assert {r["email"] for r in db2.df("people").collect()} == \
            {f"user{i}@example.com" for i in range(5)}

    def test_export_delta_refuses_then_allows(self, spark, tmp_path):
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=3)
        with pytest.raises(ValueError, match="DECRYPTED"):
            export_delta(db, "people", dest)
        rep = export_delta(db, "people", dest, allow_decrypted=True,
                           target_files=1)
        assert rep["rows"] == 3

    def test_validation_refusals(self, spark, tmp_path):
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"),
                          encryption=EncryptionConfig(key=KEY))
        with pytest.raises(ValueError, match="primary key"):
            db.create_table(TableSchema(
                name="bad1", primary_key=PrimaryKeyConfig(name="id"),
                fields=[FieldSchema(name="id", type=DataType.text,
                                    encrypted=True)]))
        with pytest.raises(ValueError, match="unique"):
            db.create_table(TableSchema(
                name="bad2", primary_key=PrimaryKeyConfig(name="id"),
                fields=[FieldSchema(name="e", type=DataType.text,
                                    encrypted=True, unique=True)]))
        # encrypted fields without an engine key: refused up front
        db2 = ToStoreSpark(spark, warehouse=str(tmp_path / "wh2"))
        with pytest.raises(ValueError, match="EncryptionConfig"):
            db2.create_table(_sch(name="people2"))
