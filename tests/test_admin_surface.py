"""Partial-error batch writes + the admin/ops API surface.

Reference: batchInsert(allowPartialErrors) data_store_impl.dart:3968+;
batchUpdate(continueOnPartialErrors) :2350; tableExists/getTableInfo/
createTables/listSpaces/deleteSpace/getSpaceInfo/get-setVersion/
queryMigrationTaskStatus tostore.dart:356, 944-1158.
"""

import pytest
from tostore_spark.plans.stats import (column_corr, column_histogram,
                                       join_advice)


def _mk(spark):
    from tostore_spark import ToStoreSpark
    return ToStoreSpark(spark)


def users_schema(name="au_users"):
    from tostore_spark.schema import (DataType, FieldSchema, IndexSchema,
                                      PrimaryKeyConfig, PrimaryKeyType,
                                      TableSchema)
    return TableSchema(
        name=name,
        fields=[FieldSchema("name", nullable=False),
                FieldSchema("age", DataType.integer, min_value=0),
                FieldSchema("email")],
        primary_key=PrimaryKeyConfig(name="id", type=PrimaryKeyType.none),
        indexes=[IndexSchema(fields=["email"], unique=True)])


# ---- allowPartialErrors ----------------------------------------------

def test_batch_insert_partial_errors(spark):
    db = _mk(spark)
    db.create_table(users_schema())
    db.batch_insert("au_users", [
        {"id": "u1", "name": "ann", "age": 30, "email": "a@x"}])
    res = db.batch_insert("au_users", [
        {"id": "u2", "name": "bob", "age": 40, "email": "b@x"},   # good
        {"id": "u3", "name": None, "age": 1, "email": "c@x"},     # not nullable
        {"id": "u4", "name": "dee", "age": -5, "email": "d@x"},   # min_value
        {"id": "u5", "name": "eve", "age": 5, "email": "a@x"},    # dup email
        {"id": "u6", "name": "fox", "age": 6, "email": "f@x"},    # good
        {"id": "u7", "name": "gil", "age": 7, "email": "f@x"},    # in-batch dup
    ], allow_partial_errors=True)
    assert sorted(res.success_keys) == ["u2", "u6"]
    assert set(res.failed) == {"u3", "u4", "u5", "u7"}
    assert "not nullable" in res.failed["u3"]
    assert "min" in res.failed["u4"]
    assert "unique" in res.failed["u5"]
    assert "duplicate" in res.failed["u7"]
    ids = sorted(r["id"] for r in db.df("au_users").collect())
    assert ids == ["u1", "u2", "u6"]


def test_batch_insert_strict_still_raises(spark):
    db = _mk(spark)
    db.create_table(users_schema())
    with pytest.raises(ValueError, match="not nullable"):
        db.batch_insert("au_users", [
            {"id": "u1", "name": None, "age": 1, "email": "a@x"}])
    assert db.df("au_users").count() == 0


def test_batch_update_continue_on_partial_errors(spark):
    db = _mk(spark)
    db.create_table(users_schema())
    db.batch_insert("au_users", [
        {"id": "u1", "name": "ann", "age": 30, "email": "a@x"}])
    with pytest.raises(ValueError, match="primary key"):
        db.batch_update("au_users", [{"age": 31}])
    n = db.batch_update("au_users", [{"age": 31}, {"id": "u1", "age": 32}],
                        continue_on_partial_errors=True)
    assert n == 1
    assert db.df("au_users").collect()[0]["age"] == 32


# ---- admin surface ----------------------------------------------------

def test_table_exists_and_schema(spark):
    db = _mk(spark)
    assert not db.table_exists("au_users")
    assert db.get_table_schema("au_users") is None
    db.create_tables([users_schema(), users_schema("au_other")])
    assert db.table_exists("au_users") and db.table_exists("au_other")
    assert db.get_table_schema("au_users").primary_key.name == "id"


def test_get_table_info(spark):
    db = _mk(spark)
    db.create_table(users_schema())
    db.batch_insert("au_users", [
        {"id": "u1", "name": "ann", "age": 30, "email": "a@x"}])
    info = db.get_table_info("au_users")
    assert info["record_count"] == 1
    assert info["index_count"] >= 1
    assert info["space"] == "default"
    assert info["generation"] >= 1
    assert db.get_table_info("nope") is None


def test_spaces_lifecycle(spark):
    db = _mk(spark)
    db.create_table(users_schema())
    assert db.list_spaces() == ["default"]
    db.switch_space("tenant_a")
    db.create_table(users_schema())
    assert db.list_spaces() == ["default", "tenant_a"]
    # protected deletions return graceful errors
    assert not db.delete_space("tenant_a").success  # active
    assert not db.delete_space("default").success
    db.switch_space("default")
    res = db.delete_space("tenant_a")
    assert res.success
    assert db.list_spaces() == ["default"]
    info = db.get_space_info()
    assert info["name"] == "default" and "au_users" in info["tables"]


def test_version_per_space(spark):
    db = _mk(spark)
    assert db.get_version() == 0
    db.set_version(3)
    db.switch_space("s2")
    assert db.get_version() == 0
    db.set_version(7)
    db.switch_space("default")
    assert db.get_version() == 3


def test_migration_task_status(spark):
    from tostore_spark.schema import DataType, FieldSchema
    db = _mk(spark)
    db.create_table(users_schema())
    rec = (db.schema_builder("au_users")
           .add_field(FieldSchema("bio", DataType.text, default_value=""))
           .execute())
    task = db.query_migration_task_status(rec["task_id"])
    assert task["status"] == "completed"
    assert task["ops"] == ["add_field"]
    assert db.query_migration_task_status("mig_999") is None


# ---- lifecycle / diagnostics (round-2 additions) ----------------------

def test_update_accumulate_then_execute(spark):
    from tostore_spark.expr import Expr
    db = _mk(spark)
    db.create_table(users_schema())
    db.batch_insert("au_users", [
        {"id": "u1", "name": "ann", "age": 30, "email": "a@x"}])
    n = (db.update("au_users", {"name": "ann2"})
         .where("id", "=", "u1")
         .set_field("age", Expr.field("age") + 1)
         .execute())
    assert n == 1
    row = db.df("au_users").collect()[0]
    assert row["name"] == "ann2" and row["age"] == 31
    with pytest.raises(ValueError, match="no update data"):
        db.update("au_users").where("id", "=", "u1").execute()


def test_flush_and_status(spark):
    db = _mk(spark)
    db.create_table(users_schema())
    db.batch_insert("au_users", [
        {"id": "u1", "name": "ann", "age": 30, "email": "a@x"}])
    db.flush()
    assert db.df("au_users").count() == 1
    st = db.status
    assert st["current_space"] == "default"
    assert "au_users" in st["tables"]
    assert st["generations"]["default.au_users"] >= 1
    assert db.config["default_query_limit"] == 1000
    assert db.instance_path is None


def test_close_and_delete_database(spark):
    db = _mk(spark)
    db.create_table(users_schema())
    db.switch_space("s2")
    db.create_table(users_schema("other_t"))
    db.switch_space("default")
    db.close(keep_active_space=False)
    assert db.table_exists("au_users")
    assert db.list_spaces() == ["default"] or "s2" not in [
        sp for sp, _ in db._tables]
    db.kv.set_value("k", 1)
    db.delete_database()
    assert not db.table_exists("au_users")
    assert db.kv.get_value("k") is None
    assert db.status["tables"] == []


def test_stream_query_chain(spark, db):
    got = list(db.stream_query("nation").where("n_regionkey", "=", 0)
               .select(["n_nationkey", "n_name"]).stream())
    assert got and all("n_name" in r for r in got)


def test_backup_restore_includes_kv(spark, tmp_path):
    db = _mk(spark)
    db.create_table(users_schema())
    db.batch_insert("au_users", [
        {"id": "u1", "name": "ann", "age": 30, "email": "a@x"}])
    db.kv.set_value("cfg", {"x": 1})
    db.kv.set_value("g", 7, is_global=True)
    db.backup(str(tmp_path))
    db2 = _mk(spark)
    db2.restore(str(tmp_path))
    assert db2.kv.get_value("cfg") == {"x": 1}
    assert db2.kv.get_value("g", is_global=True) == 7
    assert db2.df("au_users").count() == 1


def test_facade_kv_methods_match_reference_names(spark):
    """setValue/getValue/removeValue/watchValue(s)/initialize exist on the
    facade itself (tostore.dart:706-803), delegating to the KV store."""
    from tostore_spark import ToStoreSpark
    db = ToStoreSpark.initialize(spark)
    db.set_value("k1", {"a": 1})
    assert db.get_value("k1") == {"a": 1}
    seen = []
    db.watch_value("k1", lambda v: seen.append(v))
    db.set_value("k1", 2)
    assert seen and seen[-1] == 2
    db.remove_value("k1")
    assert db.get_value("k1") is None


def test_stats_facade_methods(spark, db):
    """column_histogram / column_corr / join_advice: the planning-stats
    module functions over an engine's tables."""
    h = column_histogram(db.df("orders"), "o_totalprice",
                         n_buckets=4).collect()
    assert len(h) == 4 and sum(r.n_rows for r in h) == db.df("orders").count()
    c = column_corr(db.df("lineitem"), ["l_quantity", "l_discount"]).collect()
    assert len(c) == 1 and abs(c[0].corr) < 0.2
    adv = join_advice(db, "lineitem", "part", ("l_partkey", "p_partkey"))
    assert adv["strategy"] == "broadcast"
