"""Manifest-level data skipping (plans/skipping + engine.pruned_df):
footer-stats collection, conservative predicate evaluation, and the
end-to-end query path over an append-segmented warehouse table."""
import pytest

from tostore_spark.condition import ConditionNode
from tostore_spark.plans.skipping import (collect_parquet_stats,
                                          node_may_match, prune_segments)


def _leaf(field, op, value):
    return ConditionNode("leaf", field, op, value)


def _summary(cols, rows=100):
    return {"rows": rows, "cols": cols}


S = _summary({"id": {"min": 100, "max": 199, "nulls": 0},
              "name": {"min": "alpha", "max": "omega", "nulls": 2},
              "allnull": {"min": 0, "max": 0, "nulls": 100}})


class TestLeafPruning:
    def test_eq_in_and_out_of_range(self):
        assert node_may_match(_leaf("id", "=", 150), S, "t")
        assert not node_may_match(_leaf("id", "=", 50), S, "t")
        assert not node_may_match(_leaf("id", "=", 200), S, "t")

    def test_ordered(self):
        assert not node_may_match(_leaf("id", ">", 199), S, "t")
        assert node_may_match(_leaf("id", ">=", 199), S, "t")
        assert not node_may_match(_leaf("id", "<", 100), S, "t")
        assert node_may_match(_leaf("id", "<=", 100), S, "t")

    def test_between_and_in(self):
        assert node_may_match(
            _leaf("id", "BETWEEN", {"start": 180, "end": 300}), S, "t")
        assert not node_may_match(
            _leaf("id", "BETWEEN", {"start": 200, "end": 300}), S, "t")
        assert node_may_match(_leaf("id", "IN", [1, 2, 150]), S, "t")
        assert not node_may_match(_leaf("id", "IN", [1, 2, 3]), S, "t")
        # IN () matches nothing (eval_leaf: any over empty list)
        assert not node_may_match(_leaf("id", "IN", []), S, "t")

    def test_unknown_field_and_joined_prefix_keep(self):
        assert node_may_match(_leaf("other", "=", 1), S, "t")
        assert node_may_match(_leaf("j.id", "=", 1), S, "t")
        # our own table prefix resolves to the stats column
        assert not node_may_match(_leaf("t.id", "=", 1), S, "t")

    def test_null_semantics(self):
        # ordered / equality ops never match an all-null segment
        assert not node_may_match(_leaf("allnull", ">", -5), S, "t")
        assert not node_may_match(_leaf("allnull", "=", 0), S, "t")
        # IS null matches where nulls exist
        assert node_may_match(_leaf("allnull", "IS", None), S, "t")
        assert node_may_match(_leaf("name", "IS", None), S, "t")
        assert not node_may_match(
            _leaf("id", "IS", None), S, "t")
        # IS NOT null needs a non-null row
        assert not node_may_match(_leaf("allnull", "IS NOT", None), S, "t")
        assert node_may_match(_leaf("id", "IS NOT", None), S, "t")

    def test_neq_prunes_only_constant_segment(self):
        cst = _summary({"id": {"min": 7, "max": 7, "nulls": 0}}, rows=10)
        assert not node_may_match(_leaf("id", "!=", 7), cst, "t")
        assert node_may_match(_leaf("id", "!=", 8), cst, "t")
        assert node_may_match(_leaf("id", "!=", 7), S, "t")

    def test_like_prefix(self):
        assert node_may_match(_leaf("name", "LIKE", "om%"), S, "t")
        assert not node_may_match(_leaf("name", "LIKE", "zz%"), S, "t")
        # no literal prefix -> undecidable
        assert node_may_match(_leaf("name", "LIKE", "%zz"), S, "t")
        # NOT LIKE never prunes
        assert node_may_match(_leaf("name", "NOT LIKE", "a%"), S, "t")

    def test_no_cross_type_coercion_against_string_stats(self):
        """THE trap skipping must not fall into: parquet orders string
        stats lexicographically, so min='10', max='9' covers the value
        '5' even though numerically 5 < 10.  A numeric coercion would
        prune a live segment."""
        st = _summary({"sid": {"min": "10", "max": "9", "nulls": 0}},
                      rows=3)
        # value normalized to str (string column): lexicographic, kept
        assert node_may_match(_leaf("sid", "=", "5"), st, "t")
        # a stray unnormalized numeric value: undecidable, kept
        assert node_may_match(_leaf("sid", "=", 5), st, "t")

    def test_tree_and_or(self):
        t = ConditionNode("and", children=[
            _leaf("id", ">=", 150), _leaf("id", "<=", 250)])
        assert node_may_match(t, S, "t")
        t2 = ConditionNode("and", children=[
            _leaf("id", ">", 250), _leaf("name", "LIKE", "a%")])
        assert not node_may_match(t2, S, "t")
        t3 = ConditionNode("or", children=[
            _leaf("id", ">", 250), _leaf("other", "=", 1)])
        assert node_may_match(t3, S, "t")   # unknown OR branch keeps

    def test_prune_segments_helper(self):
        segs = ["a", "b"]
        stats = {"a": _summary({"id": {"min": 0, "max": 9, "nulls": 0}},
                               rows=10),
                 "b": _summary({"id": {"min": 10, "max": 19, "nulls": 0}},
                               rows=10)}
        node = _leaf("id", ">=", 15)
        assert prune_segments(segs, stats, node, "t") == ["b"]
        # segment without stats always survives
        assert prune_segments(["a", "c"], stats, node, "t") == ["c"]


class TestConservativeness:
    """Property pin: whenever the pruner says a segment CANNOT match
    (node_may_match False), the pure-Python reference evaluator
    (``condition._eval_node`` — value_matcher semantics) must find NO
    matching row among the segment's actual values.  False keeps are
    fine (skipping is an optimization); a false drop is data loss."""

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _vals = st.lists(
        st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
        min_size=1, max_size=12)
    _ops = st.sampled_from(["=", "!=", ">", ">=", "<", "<=", "IS",
                            "IS NOT", "BETWEEN", "IN"])
    _probe = st.integers(min_value=-55, max_value=55)

    @staticmethod
    def _summary(vals):
        nn = [v for v in vals if v is not None]
        return {"rows": len(vals),
                "cols": {"x": {
                    "min": min(nn) if nn else None,
                    "max": max(nn) if nn else None,
                    "nulls": sum(1 for v in vals if v is None)}}}

    @given(vals=_vals, op=_ops, probe=_probe, probe2=_probe)
    @settings(max_examples=300, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def test_prune_never_drops_a_matching_row(self, vals, op, probe,
                                              probe2):
        from tostore_spark.condition import ConditionNode, _eval_node
        if op == "BETWEEN":
            value = {"start": min(probe, probe2),
                     "end": max(probe, probe2)}
        elif op == "IN":
            value = [probe, probe2]
        elif op in ("IS", "IS NOT"):
            value = None
        else:
            value = probe
        node = ConditionNode("leaf", "x", op, value)
        may = node_may_match(node, self._summary(vals), "t")
        if not may:
            assert not any(_eval_node(node, {"x": v}) for v in vals), \
                (vals, op, value)


    @given(keys=st.lists(st.one_of(
        st.integers(min_value=-10**6, max_value=10**6),
        st.text(min_size=0, max_size=12)), min_size=1, max_size=40))
    @settings(max_examples=200, deadline=None)
    def test_bloom_never_false_negative(self, keys):
        """Every value folded into the bitmap must test present —
        a false negative would silently drop live rows.  Pinned for
        BOTH formats: md5km (current; Spark builds via the
        ``bloom_position_exprs`` twin, e2e tests pin the two
        implementations against each other) and the legacy crc32/`#i`
        formula (old persisted sidecars, no ``h`` marker)."""
        from tostore_spark.plans.skipping import (BLOOM_H_MD5KM,
                                                  bloom_key,
                                                  bloom_may_contain,
                                                  bloom_positions,
                                                  bloom_positions_md5km)
        m, k = 4096, 4
        for h, posfn in ((BLOOM_H_MD5KM, bloom_positions_md5km),
                         (None, bloom_positions)):
            bits = bytearray(m >> 3)
            for v in keys:
                s = bloom_key(v)
                assert s is not None
                for p in posfn(s, m, k):
                    bits[p >> 3] |= 1 << (p & 7)
            bloom = {"m": m, "k": k, "cols": {"x": bytes(bits)}}
            if h:
                bloom["h"] = h
            for v in keys:
                assert bloom_may_contain(bloom, "x", v)
            # unkeyable values never consult the bitmap (conservative)
            assert bloom_may_contain(bloom, "x", None)
            assert bloom_may_contain(bloom, "x", 1.5)
            assert bloom_may_contain(bloom, "y", "anything")

    def test_md5km_false_positive_rate_near_theory(self):
        """The r17 hash fix's point: crc32-salt positions are GF(2)-
        correlated (measured fpp 0.117 at m=65536/k=4/n=2000 — 670x
        theory); the md5 double-hash must sit near the independent-hash
        rate.  Deterministic (fixed key sets)."""
        import math

        from tostore_spark.plans.skipping import bloom_positions_md5km
        m, k, n = 65536, 4, 2000
        bits = bytearray(m >> 3)
        for i in range(n):
            for p in bloom_positions_md5km(f"member-{i}", m, k):
                bits[p >> 3] |= 1 << (p & 7)
        probes, fp = 20000, 0
        for i in range(probes):
            if all((bits[p >> 3] >> (p & 7)) & 1
                   for p in bloom_positions_md5km(f"absent-{i}", m, k)):
                fp += 1
        theory = (1 - math.exp(-k * n / m)) ** k     # ≈ 1.7e-4
        assert fp / probes <= 10 * theory, (fp, probes, theory)


class TestCollect:
    def test_collect_and_fold(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        d = tmp_path / "seg"
        d.mkdir()
        pq.write_table(pa.table({"id": [1, 2, None], "s": ["b", "a", "c"]}),
                       str(d / "f1.parquet"))
        pq.write_table(pa.table({"id": [10, 20, 30], "s": ["x", "y", "z"]}),
                       str(d / "f2.parquet"))
        st = collect_parquet_stats(str(d))
        assert st["rows"] == 6
        assert st["cols"]["id"] == {"min": 1, "max": 30, "nulls": 1}
        assert st["cols"]["s"] == {"min": "a", "max": "z", "nulls": 0}

    def test_collect_missing_dir_and_scheme(self, tmp_path):
        assert collect_parquet_stats(str(tmp_path / "nope")) == {}
        assert collect_parquet_stats("s3://bucket/x") == {}


@pytest.mark.usefixtures("spark")
class TestEndToEnd:
    def test_append_segment_query_prunes(self, spark, tmp_path):
        from tostore_spark.engine import ToStoreSpark
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh)
        db.register_table("t", df=spark.createDataFrame(
            [{"id": i, "val": f"v{i:03d}"} for i in range(100)]))
        db.flush()
        db.batch_insert("t", [{"id": 100 + i, "val": f"v{100 + i:03d}"}
                              for i in range(50)])
        db.flush()
        db.batch_insert("t", [{"id": 200 + i, "val": f"v{200 + i:03d}"}
                              for i in range(50)])
        db.flush()
        assert len(db._tables[("default", "t")]["segments"]) == 3

        rows = (db.query("t").where("id", ">=", 210).where("id", "<=", 220)
                .order_by_asc("id").df().collect())
        assert [r["id"] for r in rows] == list(range(210, 221))
        assert db._last_prune == (1, 3, "t")

        # OR across two segments keeps exactly those two
        assert db.query("t").where("id", "=", 5) \
                 .or_where("id", "=", 205).count() == 2
        assert db._last_prune == (2, 3, "t")

        # impossible predicate: zero segments, empty result, same schema
        out = db.query("t").where("id", ">", 10_000).df()
        assert out.count() == 0
        assert out.columns == ["id", "val"]
        assert db._last_prune == (0, 3, "t")

        # unflushed mutation disables skipping (rows live off-segment)
        db.batch_insert("t", [{"id": 999, "val": "x"}])
        assert db.query("t").where("id", "=", 999).count() == 1
        assert db._last_prune is None
        db.flush()

        # reopened engine restores stats from the manifest; loose-typed
        # value ("215" on an int column) still prunes via normalization
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert db2.query("t").where("id", "=", "215").count() == 1
        kept, total, tbl = db2._last_prune
        assert tbl == "t" and total == 4 and kept == 1

    def test_metadata_aggregates(self, spark, tmp_path):
        """count/min/max served from manifest footer stats — no scan —
        and every ineligibility edge falls back to the scan answer."""
        from tostore_spark.engine import ToStoreSpark
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh)
        db.register_table("t", df=spark.createDataFrame(
            [{"id": i, "s": f"v{i}", "x": float(i)} for i in range(50)]))
        db.flush()
        db.batch_insert("t", [{"id": 100 + i, "s": "a", "x": 1.0}
                              for i in range(10)])
        db.flush()

        assert db.query("t").count() == 60
        assert db._last_meta_agg == ("count", "t")
        assert db.query("t").min("id") == 0
        assert db._last_meta_agg == ("min", "t", "id")
        assert db.query("t").max("id") == 109
        assert db._last_meta_agg == ("max", "t", "id")

        # strings and floats refuse the footer answer (truncation / NaN)
        assert db.query("t").max("s") == "v9"
        assert db._last_meta_agg is None
        assert db.query("t").max("x") == 49.0
        assert db._last_meta_agg is None

        # a filter or join disables the fast path
        assert db.query("t").where("id", ">=", 100).count() == 10

        # dirty table falls back (unflushed row visible, stats stale)
        db.batch_insert("t", [{"id": 999, "s": "z", "x": 0.0}])
        assert db.query("t").count() == 61
        assert db._last_meta_agg is None
        assert db.query("t").max("id") == 999
        db.flush()
        assert db.query("t").count() == 61
        assert db._last_meta_agg == ("count", "t")

        # reopened engine serves from the manifest it loaded
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert db2.query("t").count() == 61
        assert db2._last_meta_agg == ("count", "t")
        assert db2.query("t").min("id") == 0
        assert db2.query("t").exists() is True
        assert db2._last_meta_agg == ("count", "t")

        # non-warehouse registration has no stats: scan fallback
        db3 = ToStoreSpark(spark)
        db3.register_table("m", df=spark.createDataFrame(
            [{"id": 1}, {"id": 2}]))
        assert db3.query("m").count() == 2
        assert getattr(db3, "_last_meta_agg", None) is None

    def test_metadata_minmax_null_and_empty(self, spark, tmp_path):
        from tostore_spark.engine import ToStoreSpark
        from pyspark.sql import types as T
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        sch = T.StructType([T.StructField("id", T.LongType()),
                            T.StructField("v", T.LongType())])
        # nulls interleaved: footer min/max are over non-null values,
        # matching SQL aggregate semantics
        db.register_table("t", df=spark.createDataFrame(
            [(1, None), (2, 5), (3, 9)], schema=sch))
        db.flush()
        assert db.query("t").min("v") == 5
        assert db._last_meta_agg == ("min", "t", "v")
        # an ALL-null column: chunks carry null-counts only, the
        # metadata answer is SQL NULL — still served without a scan
        db.register_table("t2", df=spark.createDataFrame(
            [(1, None), (2, None)], schema=sch))
        db.flush()
        assert db.query("t2").min("v") is None
        assert db._last_meta_agg == ("min", "t2", "v")

    def test_file_grain_pruning_after_optimize(self, spark, tmp_path):
        """OPTIMIZE (range-repartition + sort) gives every file a
        narrow key range; a range query must then read only the
        overlapping FILES, not just the one segment root."""
        from tostore_spark.engine import ToStoreSpark
        from tostore_spark.plans.layout import optimize_table
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.register_table("t", df=spark.createDataFrame(
            [{"id": i, "v": i % 13} for i in range(4000)]))
        optimize_table(db, "t", target_partitions=8, zorder=["id"])

        rows = (db.query("t").where("id", "BETWEEN",
                                    {"start": 100, "end": 140})
                .order_by_asc("id").df().collect())
        assert [r["id"] for r in rows] == list(range(100, 141))
        kept, total = db._last_prune_files
        assert total == 8 and kept <= 2
        # segment level saw one root and could not drop it
        assert db._last_prune == (1, 1, "t")

        # point lookup: exactly one file
        assert db.query("t").where("id", "=", 3999).count() == 1
        assert db._last_prune_files[0] == 1

        # a value past the GLOBAL range kills the segment itself —
        # file grain never engages (segment level already answered)
        assert db.query("t").where("id", ">", 5000).count() == 0
        assert db._last_prune == (0, 1, "t")
        assert db._last_prune_files is None

    def test_file_grain_on_append_segments(self, spark, tmp_path):
        from tostore_spark.engine import ToStoreSpark
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh)
        db.register_table("t", df=spark.createDataFrame(
            [{"id": i} for i in range(100)]).repartition(4))
        db.flush()
        db.batch_insert("t", [{"id": 100 + i} for i in range(50)])
        db.flush()
        # the appended segment's sidecar exists independently of the base
        out = db.query("t").where("id", ">=", 100).df()
        assert out.count() == 50
        # base segment pruned at SEGMENT level, so file grain sees only
        # the delta root's files (all kept) — files may or may not
        # narrow further; the answer is what matters
        assert db._last_prune == (1, 2, "t")

        # reopen: sidecars are re-read from disk
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert db2.query("t").where("id", "<", 10).count() == 10

    def test_bloom_point_lookup_skipping(self, spark, tmp_path):
        """Interleaved string keys make every segment span the whole
        range — min/max can never prune — but the per-segment bloom
        proves a point value absent from 2 of 3 segments."""
        from tostore_spark.engine import ToStoreSpark
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh)
        # keys 'k0000'..'k0299' interleaved mod 3: each segment's
        # min/max covers ~the whole lexicographic range
        db.register_table("t", df=spark.createDataFrame(
            [{"k": f"k{i:04d}", "n": i} for i in range(0, 300, 3)]))
        db.enable_bloom_skip("t", ["k", "n"])
        db.flush()
        db.batch_insert("t", [{"k": f"k{i:04d}", "n": i}
                              for i in range(1, 300, 3)])
        db.flush()
        db.batch_insert("t", [{"k": f"k{i:04d}", "n": i}
                              for i in range(2, 300, 3)])
        db.flush()

        # range stats alone keep all 3 (overlapping ranges)…
        assert db.query("t").where("k", ">=", "k0000").count() == 300
        # …but the bloom narrows an equality to the one holder
        assert db.query("t").where("k", "=", "k0100").count() == 1
        assert db._last_prune == (1, 3, "t")
        # loose typing: int probe on the int column, mod-2 segment
        assert db.query("t").where("n", "=", 200).count() == 1
        assert db._last_prune == (1, 3, "t")
        # IN across two segments keeps exactly those two
        assert db.query("t").where(
            "k", "IN", ["k0000", "k0001"]).count() == 2
        assert db._last_prune == (2, 3, "t")
        # absent value: every segment bloom-vetoed, empty result
        assert db.query("t").where("k", "=", "nope").count() == 0
        assert db._last_prune == (0, 3, "t")

        # reopened engine reloads bloom config from the manifest and
        # sidecars from the version dirs
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert db2.query("t").where("k", "=", "k0200").count() == 1
        assert db2._last_prune == (1, 3, "t")

        # a != / range probe never consults the bloom (keeps all)
        assert db2.query("t").where("k", "!=", "k0100").count() == 299

    def test_file_grain_on_partitioned_table(self, spark, tmp_path):
        """hive-partitioned tables prune FILES on data columns too —
        the explicit-file read keeps the path-encoded partition
        column (values and type) intact."""
        from tostore_spark.engine import ToStoreSpark
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh)
        df = spark.createDataFrame(
            [{"pcol": f"p{i % 3}", "id": i, "v": i * 2}
             for i in range(300)]).repartition(4, "id")
        db.register_table("t", df=df, partition_by=["pcol"])
        db.flush()

        out = (db.query("t").where("id", "BETWEEN",
                                   {"start": 10, "end": 20}).df())
        rows = out.collect()
        assert sorted(r["id"] for r in rows) == list(range(10, 21))
        # partition column survives the file-level read
        assert all(r["pcol"] == f"p{r['id'] % 3}" for r in rows)
        if db._last_prune_files is not None:
            kept, total = db._last_prune_files
            assert kept < total
        # partition-column predicate still works (Spark dir pruning;
        # footer stats treat pcol as unknown — conservative)
        assert db.query("t").where("pcol", "=", "p1").count() == 100
        # reopen: sidecars re-read, types pinned
        db2 = ToStoreSpark(spark, warehouse=wh)
        r2 = (db2.query("t").where("id", "=", 42).df().collect())
        assert len(r2) == 1 and r2[0]["pcol"] == "p0"

    def test_ttl_filter_applies_on_pruned_reads(self, spark, tmp_path):
        """A row that ages past its TTL AFTER the flush must stay
        invisible on the skipping-rebuilt scan too — pruned_df
        re-applies the TTL read filter to whatever it rebuilds."""
        import datetime
        import time
        from tostore_spark.engine import ToStoreSpark
        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig,
                                          TableSchema, TableTtlConfig)
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.create_table(TableSchema(
            name="t", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema("n", DataType.integer),
                    FieldSchema("created", DataType.datetime)],
            ttl=TableTtlConfig(ttl_ms=800, source_field="created")))
        now = datetime.datetime.now()
        db.batch_insert("t", [
            {"id": "live", "n": 5,
             "created": now + datetime.timedelta(hours=1)},
            {"id": "aging", "n": 7, "created": now}])
        db.flush()                  # both survive the flush cleanup
        time.sleep(1.2)             # 'aging' expires post-flush
        rows = (db.query("t").where("n", "BETWEEN",
                                    {"start": 0, "end": 10})
                .df().collect())
        assert [r["id"] for r in rows] == ["live"]
        # the skipping layer was eligible for this read
        assert db._last_prune is not None

    def test_table_stats_observability(self, spark, tmp_path):
        from tostore_spark.engine import ToStoreSpark
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.register_table("t", df=spark.createDataFrame(
            [{"id": i} for i in range(40)]))
        db.flush()
        db.batch_insert("t", [{"id": 100 + i} for i in range(10)])
        db.flush()
        st = db.table_stats("t")
        assert st["total_rows"] == 50
        assert len(st["segments"]) == 2
        assert st["segments"][1]["rows"] == 10
        assert st["segments"][1]["cols"]["id"]["min"] == 100
        assert st["delete_epochs"] == 0 and st["bloom_cols"] is None
        assert [k for k, _ in st["recipe"]] == ["seg", "seg"]

    def test_data_skipping_kill_switch(self, spark, tmp_path):
        from tostore_spark.engine import ToStoreSpark
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.register_table("t", df=spark.createDataFrame(
            [{"id": i} for i in range(50)]))
        db.flush()
        db.batch_insert("t", [{"id": 100 + i} for i in range(50)])
        db.flush()
        db.data_skipping = False
        assert db.query("t").where("id", ">=", 100).count() == 50
        assert db._last_prune is None
        assert db.query("t").count() == 100
        assert db._last_meta_agg is None
        db.data_skipping = True
        assert db.query("t").where("id", ">=", 100).count() == 50
        assert db._last_prune == (1, 2, "t")
        assert db.query("t").count() == 100
        assert db._last_meta_agg == ("count", "t")

    def test_per_file_bloom_within_segment(self, spark, tmp_path):
        """A compacted single-segment table: min/max overlaps every
        file for an unsorted key, but the per-file bloom narrows a
        point lookup to the file(s) that actually hold the value."""
        from tostore_spark.engine import ToStoreSpark
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh)
        # interleaved keys across 6 files: every file spans the range
        db.register_table("t", df=spark.createDataFrame(
            [{"k": f"u{i:04d}", "n": i} for i in range(600)])
            .repartition(6))
        db.enable_bloom_skip("t", ["k"])
        db.flush()
        assert db.query("t").where("k", "=", "u0123").count() == 1
        # one segment kept, but the file set narrowed
        assert db._last_prune == (1, 1, "t")
        kept, total = db._last_prune_files
        assert total == 6 and kept <= 2
        # absent value: zero files read, still a correct empty result
        assert db.query("t").where("k", "=", "zz").count() == 0
        assert db._last_prune[0] == 0 or db._last_prune_files[0] == 0
        # reopen path decodes the per-file map from the sidecar
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert db2.query("t").where("k", "=", "u0599").count() == 1
        assert db2._last_prune_files[0] <= 2

    def test_bloom_enable_validation(self, spark, tmp_path):
        from tostore_spark.engine import ToStoreSpark
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.register_table("t", df=spark.createDataFrame(
            [{"k": "a", "x": 1.5, "b": True}]))
        with pytest.raises(ValueError, match="integral or string"):
            db.enable_bloom_skip("t", ["x"])
        with pytest.raises(ValueError, match="integral or string"):
            db.enable_bloom_skip("t", ["b"])
        with pytest.raises(ValueError, match="not in"):
            db.enable_bloom_skip("t", ["missing"])

    def test_pruned_equals_unpruned(self, spark, tmp_path):
        """Every pruned answer must equal the full-scan answer."""
        from tostore_spark.engine import ToStoreSpark
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.register_table("t", df=spark.createDataFrame(
            [{"k": i % 7, "id": i} for i in range(60)]))
        db.flush()
        db.batch_insert("t", [{"k": i % 7, "id": 60 + i} for i in range(60)])
        db.flush()
        for q in [lambda b: b.where("id", "<", 30),
                  lambda b: b.where("id", "BETWEEN",
                                    {"start": 55, "end": 70}),
                  lambda b: b.where("id", "IN", [3, 90, 400])]:
            got = sorted(r["id"] for r in q(db.query("t")).df().collect())
            exp = sorted(r["id"] for r in db.df("t").collect()
                         if True)  # full table, filter below
            node_rows = q(db.query("t"))
            # independent check against python-side eval
            from tostore_spark.condition import _eval_node
            exp = sorted(r["id"] for r in
                         (row.asDict() for row in db.df("t").collect())
                         if _eval_node(node_rows._cond.root().simplify(), r))
            assert got == exp


class TestRowGroupGrain:
    """Row-group-grain pruning (the rung below segment/file grain):
    Spark's vectorized parquet reader skips row groups whose footer
    stats refute the PUSHED filters — per-row-group min/max live in
    the footers this layer already reads.  What must be pinned is that
    the pushdown survives the ENGINE's query path end-to-end, since a
    broken pushdown silently reads every row group."""

    def _fixture(self, tmp_path, n=100_000, rg=10_000):
        import pyarrow as pa
        import pyarrow.parquet as pq
        d = str(tmp_path / "rgt")
        import os
        os.makedirs(d)
        tbl = pa.table({"k": list(range(n)),
                        "v": [f"x{i}" for i in range(n)]})
        pq.write_table(tbl, os.path.join(d, "part-0.parquet"),
                       row_group_size=rg)
        assert pq.ParquetFile(
            os.path.join(d, "part-0.parquet")).num_row_groups == n // rg
        return d

    def test_query_path_range_reads_one_row_group(self, spark, tmp_path):
        from tostore_spark.engine import ToStoreSpark
        from tostore_spark.plans.skipping import scan_output_rows
        d = self._fixture(tmp_path)
        db = ToStoreSpark(spark)
        db.register_table("rgt", df=spark.read.parquet(d))
        out = db.query("rgt").where("k", "BETWEEN",
                                    {"start": 42_000, "end": 44_999}).df()
        rows = out.collect()
        assert len(rows) == 3_000
        scanned = scan_output_rows(out)
        # one 10k row group read of the 100k-row file: the range's
        # bounds land inside a single sorted group
        assert scanned == 10_000, scanned
        # sanity: an unfiltered count reads everything
        full = db.query("rgt").df()
        assert full.count() == 100_000

    def test_point_lookup_reads_one_row_group(self, spark, tmp_path):
        from tostore_spark.engine import ToStoreSpark
        from tostore_spark.plans.skipping import scan_output_rows
        d = self._fixture(tmp_path)
        db = ToStoreSpark(spark)
        db.register_table("rgt", df=spark.read.parquet(d))
        out = db.query("rgt").where("k", "=", 77_777).df()
        assert len(out.collect()) == 1
        assert scan_output_rows(out) == 10_000

    def test_pruned_read_keeps_pushdown(self, spark, tmp_path):
        """engine.pruned_df rebuilds scans from explicit file lists —
        the rebuilt scan must still push the predicate so row-group
        skipping survives file-grain pruning.  Two multi-row-group
        files in one segment: the file stats keep only one file, and
        within it the reader keeps only one row group."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from tostore_spark.engine import ToStoreSpark
        from tostore_spark.plans.skipping import scan_output_rows
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh)
        n = 40_000
        df = spark.createDataFrame(
            [(i, f"x{i}") for i in range(n)], "k int, v string")
        db.register_table("t", df=df.repartition(1))
        db.flush()
        # rewrite the flushed segment as two sorted multi-row-group
        # files so BOTH grains have something to drop (flush writes
        # one row group per file at this size)
        vdir = db._tables[("default", "t")]["path"]
        for f in os.listdir(vdir):
            if f.endswith(".parquet"):
                os.remove(os.path.join(vdir, f))
        half = n // 2
        pq.write_table(pa.table({"k": list(range(half)),
                                 "v": [f"x{i}" for i in range(half)]}),
                       os.path.join(vdir, "part-a.parquet"),
                       row_group_size=5_000)
        pq.write_table(pa.table({"k": list(range(half, n)),
                                 "v": [f"x{i}" for i in range(half, n)]}),
                       os.path.join(vdir, "part-b.parquet"),
                       row_group_size=5_000)
        # refresh sidecar stats to match the rewritten files
        from tostore_spark import store as S
        from tostore_spark.plans.skipping import collect_parquet_stats
        seg, by_file = collect_parquet_stats(vdir, per_file=True)
        ent = db._tables[("default", "t")]
        ent["segment_stats"] = {S._norm_path(vdir): seg}
        import json as _json
        with open(os.path.join(vdir, "_filestats.json"), "w") as fh:
            _json.dump({"files": by_file}, fh)
        db.__dict__.pop("_filestats_cache", None)
        ent["df"] = db._read_parquet(vdir)
        out = db.query("t").where("k", "BETWEEN",
                                  {"start": 26_000, "end": 27_999}).df()
        assert len(out.collect()) == 2_000
        # file grain dropped part-a; row-group grain kept 1 of 4 groups
        assert db._last_prune_files == (1, 2)
        assert scan_output_rows(out) == 5_000


class TestPrunedFoldOverDeletionVectors:
    """``pruned_df`` and ``store._cdc_base_state`` fold a
    ``seg, del, seg, del`` recipe through ``store._ops_frame`` over their
    survivors: file-grain file lists, every anti-join in epoch order,
    and an empty frame of the table schema when nothing survives."""

    @pytest.fixture(scope="class", params=[False, True],
                    ids=["flat", "hive"])
    def mor(self, request, spark, tmp_path_factory):
        from tostore_spark.engine import ToStoreSpark
        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig, TableSchema)
        hive = request.param
        db = ToStoreSpark(spark, warehouse=str(
            tmp_path_factory.mktemp("fold") / "wh"))
        sch = TableSchema(
            name="t", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="pcol", type=DataType.text),
                    FieldSchema(name="n", type=DataType.integer)])

        def rows(lo, hi):
            # range-partitioned on n: every file covers a narrow n range
            return spark.createDataFrame(
                [(f"k{i:04d}", f"0{i % 2}", i) for i in range(lo, hi)],
                "id string, pcol string, n int").repartitionByRange(4, "n")

        db.register_table("t", df=rows(0, 200), schema=sch,
                          partition_by=["pcol"] if hive else None)
        db.flush()                                          # seg
        db.delete("t").where("n", "IN", [15, 150]).execute()
        db.flush()                                          # del
        db.append_rows("t", rows(1000, 1200))
        db.flush()                                          # seg
        # deletes rows of BOTH segments: the second vector must apply
        # to the first segment's survivors too
        db.delete("t").where("n", "IN", [12, 1010]).execute()
        db.flush()                                          # del
        ops = db._tables[("default", "t")]["ops"]
        assert [k for k, _p in ops] == ["seg", "del", "seg", "del"]
        return db

    def _check(self, db, build, sql):
        got = build(db.query("t")).df()
        exp = db.df("t").filter(sql)
        assert got.columns == exp.columns
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, exp.collect()))
        return got

    def test_file_grain_prunes_within_surviving_segment(self, mor):
        got = self._check(
            mor, lambda q: q.where("n", "BETWEEN",
                                   {"start": 10, "end": 20}),
            "n BETWEEN 10 AND 20")
        assert got.count() == 9                 # 15 and 12 deleted
        assert mor._last_prune == (1, 2, "t")
        kept, total = mor._last_prune_files
        assert kept < total
        # hive: the file-list read keeps the path-encoded partition column
        assert all(r["pcol"] == f"0{r['n'] % 2}" for r in got.collect())

    def test_range_across_both_segments(self, mor):
        self._check(mor, lambda q: q.where("n", ">=", 140)
                    .where("n", "<", 1020), "n >= 140 AND n < 1020")

    def test_predicate_pruning_every_segment_is_empty(self, mor):
        got = self._check(mor, lambda q: q.where("n", ">", 10_000),
                          "n > 10000")
        assert got.count() == 0
        assert mor._last_prune == (0, 2, "t")

    def test_cdc_base_state_pruned_equals_unpruned(self, mor):
        """The pre-image state for the last vector, built over only the
        base segments its keys can live in, keeps exactly the rows of the
        full fold that the vector's keys select."""
        from tostore_spark import store as S
        ops = mor._tables[("default", "t")]["ops"]
        consumed, last = ops[:-1], ops[-1][1]
        keys = S.read_delete_keys(mor, last)
        pruned = S._cdc_base_state(mor, consumed, [keys])
        assert mor._last_cdc_prune == (2, 2)    # keys hit both segments
        full = S._ops_frame(mor, consumed)

        def rows(df):
            return sorted(map(tuple, df.select(*full.columns).collect()))
        assert rows(pruned) == rows(full)
        # a key set living in the second segment only prunes the first
        only = mor.spark.createDataFrame([("k1010",)], "id string")
        pruned = S._cdc_base_state(mor, consumed, [only])
        assert mor._last_cdc_prune == (1, 2)
        assert rows(pruned.join(only, "id", "left_semi")) == \
            rows(full.join(only, "id", "left_semi"))
        assert set(rows(pruned)) <= set(rows(full))
