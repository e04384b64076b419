"""Delta V2 checkpoint WRITE (r17 verdict order #6): the reader has
handled the UUID-named manifest + ``_sidecars/`` layout since r13;
``export_delta(checkpoint_format="v2")`` now EMITS it — protocol
upgraded to minReaderVersion 3 with the ``v2Checkpoint`` feature (why
the format is opt-in), the choice persisted in the export state, and
classic exports upgradable on any update commit."""
import json
import os

import pytest

from tostore_spark import ToStoreSpark
from tostore_spark.plans.delta_export import read_delta
from tostore_spark.schema import (DataType, FieldSchema,
                                  PrimaryKeyConfig, TableSchema)
from tostore_spark.plans.delta_export import export_delta


def _mk(spark, wh, rows=6):
    db = ToStoreSpark(spark, warehouse=wh)
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [{"id": f"k{i:03d}", "n": i}
                              for i in range(rows)])
    db.flush()
    return db


class TestV2CheckpointWrite:
    def test_v2_layout_written_and_read_back(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1,
                     checkpoint_format="v2")
        for v in range(1, 11):          # checkpoint fires at v10
            db.batch_insert("notes", [{"id": f"a{v:02d}",
                                       "n": 100 + v}])
            db.flush()
            rep = export_delta(db, "notes", dest, mode="update")
            assert rep["commit"] == "append", rep
        log = os.path.join(dest, "_delta_log")
        names = sorted(os.listdir(log))
        v2 = [n for n in names
              if n.startswith(f"{10:020d}.checkpoint.")
              and n.endswith(".json")]
        assert v2, names
        assert f"{10:020d}.checkpoint.parquet" not in names
        sc = os.listdir(os.path.join(log, "_sidecars"))
        assert len(sc) == 1 and sc[0].endswith(".parquet")
        assert json.load(open(os.path.join(
            log, "_last_checkpoint")))["version"] == 10
        # manifest shape: checkpointMetadata + protocol + metaData +
        # one sidecar ref, one JSON action per line
        acts = [json.loads(x)
                for x in open(os.path.join(log, v2[0]))]
        kinds = [next(iter(a)) for a in acts]
        assert kinds == ["checkpointMetadata", "protocol",
                         "metaData", "sidecar"]
        assert acts[0]["checkpointMetadata"]["version"] == 10
        assert acts[3]["sidecar"]["path"] == sc[0]
        # v0 protocol carries the feature (opt-in contract)
        proto = [json.loads(x)
                 for x in open(os.path.join(log, f"{0:020d}.json"))
                 if "protocol" in x][0]["protocol"]
        assert proto["minReaderVersion"] == 3
        assert "v2Checkpoint" in proto["readerFeatures"]
        # the READER starts from the exported v2 checkpoint
        back = read_delta(spark, dest)
        assert sorted(r["id"] for r in back.collect()) == \
            sorted(r["id"] for r in db.df("notes").collect())
        # tail commit past the checkpoint + pre-checkpoint travel
        db.batch_insert("notes", [{"id": "tail", "n": 999}])
        db.flush()
        export_delta(db, "notes", dest, mode="update")
        assert read_delta(spark, dest).count() == 17
        assert read_delta(spark, dest, version=3).count() == 9

    def test_classic_export_upgrades_on_update(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=1)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)   # classic
        db.batch_insert("notes", [{"id": "y", "n": 2}])
        db.flush()
        export_delta(db, "notes", dest, mode="update",
                     checkpoint_format="v2")
        proto = None
        for ln in open(os.path.join(dest, "_delta_log",
                                    f"{1:020d}.json")):
            a = json.loads(ln)
            proto = a.get("protocol", proto)
        assert proto and "v2Checkpoint" in proto["readerFeatures"]
        st = json.load(open(os.path.join(dest,
                                         "_export_state.json")))
        assert st["ckfmt"] == "v2"
        assert read_delta(spark, dest).count() == 2
        # the persisted choice survives later updates without the flag
        db.batch_insert("notes", [{"id": "z", "n": 3}])
        db.flush()
        export_delta(db, "notes", dest, mode="update")
        st = json.load(open(os.path.join(dest,
                                         "_export_state.json")))
        assert st["ckfmt"] == "v2"

    def test_dv_commit_preserves_v2_feature(self, spark, tmp_path):
        """A deletion-vector protocol upgrade must MERGE features,
        never clobber v2Checkpoint off the table."""
        db = _mk(spark, str(tmp_path / "wh"), rows=8)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1,
                     checkpoint_format="v2")
        db.delete("notes").where("id", "=", "k001").execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        proto = None
        for ln in open(os.path.join(dest, "_delta_log",
                                    f"{1:020d}.json")):
            a = json.loads(ln)
            proto = a.get("protocol", proto)
        assert set(proto["readerFeatures"]) >= {"deletionVectors",
                                                "v2Checkpoint"}
        assert read_delta(spark, dest).count() == 7

    def test_bad_format_refuses(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=1)
        with pytest.raises(ValueError, match="checkpoint_format"):
            export_delta(db, "notes", str(tmp_path / "dx"),
                         checkpoint_format="v3")
