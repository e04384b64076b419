"""Round-17 optimization pins: every operator whose internals changed in
the optimization round keeps a test proving the rewrite is value-identical
(and, where cheap to assert, that the intended plan/job shape holds)."""

import pytest
from pyspark.sql import functions as F

from tostore_spark.plans import stats as S


@pytest.fixture(scope="module")
def spark():
    from tostore_spark import get_spark
    return get_spark(app_name="opt-r17-tests")


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.01/events.parquet")


class TestOnePassPercentiles:
    """exact_percentiles_frame small-input tier (r17): one single-pass
    job replaces sketch + checkpoint + counts + selection, values
    bit-identical by construction."""

    def test_tiers_bit_identical(self, spark, events, monkeypatch):
        fracs = [0.0, 0.1, 0.25, 0.5, 0.9, 0.99, 1.0]
        small = S.exact_percentiles_frame(
            events, "value", fracs, round_dp=6).first()["__bounds"]
        monkeypatch.setattr(S, "_ONEPASS_MAX_ROWS", 1)
        big = S.exact_percentiles_frame(
            events, "value", fracs, round_dp=6).first()["__bounds"]
        assert small == big

    def test_tiers_bit_identical_unrounded(self, spark, events,
                                           monkeypatch):
        small = S.exact_percentiles_frame(
            events, "value", [0.5]).first()["__bounds"]
        monkeypatch.setattr(S, "_ONEPASS_MAX_ROWS", 1)
        big = S.exact_percentiles_frame(
            events, "value", [0.5]).first()["__bounds"]
        assert small == big

    def test_empty_input(self, spark, events):
        out = S.exact_percentiles_frame(
            events.filter("value > 1e18"), "value", [0.5]).first()
        assert out["__bounds"] == []

    def test_checkpointed_input_routes_and_matches(self, spark, events):
        """A checkpointed input (the pin keeps its origin's size
        estimate) resolves exactly like its origin."""
        ck = events.select("value").localCheckpoint(eager=True)
        got = S.exact_percentiles_frame(ck, "value", [0.5],
                                        round_dp=6).first()["__bounds"]
        ref = S.exact_percentiles_frame(events, "value", [0.5],
                                        round_dp=6).first()["__bounds"]
        assert got == ref

    def test_onepass_runs_fewer_jobs(self, spark, events, monkeypatch):
        """The small tier schedules strictly fewer Spark jobs than the
        bucketed tier (the point of the rewrite).  Counted per job
        group; AQE may split one query into a couple of stage-jobs, so
        the pin is the TIER DELTA, not an absolute."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def jobs_for(group, fn):
            sc.setJobGroup(group, group)
            try:
                fn()
                return len(tracker.getJobIdsForGroup(group) or [])
            finally:
                sc.setJobGroup(None, None)

        n_small = jobs_for("onepass-small", lambda: S.exact_percentiles_frame(
            events, "value", [0.5], round_dp=6))
        monkeypatch.setattr(S, "_ONEPASS_MAX_ROWS", 1)
        n_big = jobs_for("onepass-big", lambda: S.exact_percentiles_frame(
            events, "value", [0.5], round_dp=6))
        assert n_small < n_big, (n_small, n_big)
        assert n_small <= 2, f"one-pass tier scheduled {n_small} jobs"


class TestInsertValidationShape:
    """_check_unique (r17): broadcast-semi clash probe + driver-side
    in-batch duplicate check — same raises, fewer Spark actions."""

    @pytest.fixture()
    def store(self, spark, tmp_path):
        from tostore_spark import ToStoreSpark
        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig, TableSchema)
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.create_table(TableSchema(
            name="t", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="v", type=DataType.integer)]))
        db.batch_insert("t", [{"id": f"k{i}", "v": i} for i in range(5)])
        return db

    def test_clash_raises(self, store):
        with pytest.raises(ValueError, match="unique constraint"):
            store.batch_insert("t", [{"id": "k3", "v": 99}])

    def test_inbatch_dup_raises(self, store):
        with pytest.raises(ValueError, match="duplicate keys"):
            store.batch_insert("t", [{"id": "a", "v": 1},
                                     {"id": "a", "v": 2}])

    def test_clash_precedes_dup(self, store):
        # both violations present: the clash message wins (pre-r17 order)
        with pytest.raises(ValueError, match="unique constraint"):
            store.batch_insert("t", [{"id": "k3", "v": 1},
                                     {"id": "k3", "v": 2}])

    def test_good_insert_lands_and_flushes(self, store):
        store.batch_insert("t", [{"id": "z1", "v": 10}])
        store.flush()
        assert store.query("t").where("id", "=", "z1").df().count() == 1

    def test_insert_runs_one_action(self, spark, store, monkeypatch):
        """pre-r17 an insert ran 3 driver actions (clash take, in-batch
        dup take, delta-pin localCheckpoint); now the clash probe is the
        only one."""
        from pyspark.sql.classic.dataframe import DataFrame as CDF
        store.flush()                 # measure against a flushed base
        calls = []
        # note: take() delegates to collect() internally, so collect is
        # not wrapped — take/count/localCheckpoint cover the API actions
        for name in ("take", "localCheckpoint", "count"):
            orig = getattr(CDF, name)

            def wrapper(self, *a, _n=name, _o=orig, **kw):
                calls.append(_n)
                return _o(self, *a, **kw)

            monkeypatch.setattr(CDF, name, wrapper)
        store.batch_insert("t", [{"id": "z2", "v": 11}])
        assert calls == ["take"], f"insert ran driver actions: {calls}"


class TestVectorPairStagesSpread:
    """The per-pair distance stages in similarity.py stream the corpus
    side through an O(dim) interpreted fold per pair; a small corpus
    arriving as one file-partition serialized the whole scoring loop on
    one core (measured: graph-build kNN stage 3.0s -> 0.3s at sf0.1).
    Pin that the corpus side is spread, and that values are unchanged."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        import random
        rnd = random.Random(7)
        rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)], i % 2)
                for i in range(60)]
        return (spark.createDataFrame(rows, "vec_id int, "
                                      "embedding array<double>, label int")
                .coalesce(1))

    def test_knn_join_spreads_corpus_side(self, spark, emb):
        from tostore_spark.llmops.similarity import knn_join
        out = knn_join(emb.limit(3), emb, k=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" in plan, plan[:2000]

    def test_graph_build_spreads_and_matches_unspread(self, spark, emb,
                                                      monkeypatch):
        from tostore_spark.llmops import dedup as D
        from tostore_spark.llmops import similarity as S
        cents = S.fixed_centroids(8, 4)
        g1, h1 = S.build_knn_graph(emb.select("vec_id", "embedding"),
                                   n_neighbors=3, n_cells=4,
                                   centroids=cents, bridge_cells=1,
                                   ring_skips=(1,))
        calls = []
        orig = D._spread

        def spy(df):
            calls.append(1)
            return df          # identity: the UNSPREAD shape

        monkeypatch.setattr(D, "_spread", spy)
        g2, h2 = S.build_knn_graph(emb.select("vec_id", "embedding"),
                                   n_neighbors=3, n_cells=4,
                                   centroids=cents, bridge_cells=1,
                                   ring_skips=(1,))
        monkeypatch.setattr(D, "_spread", orig)
        assert calls, "build_knn_graph no longer routes through _spread"
        assert g1.exceptAll(g2).count() == 0
        assert g2.exceptAll(g1).count() == 0
        assert h1.exceptAll(h2).count() == 0

    def test_hard_negatives_exact_tier_matches_unspread(self, spark, emb,
                                                        monkeypatch):
        from tostore_spark.llmops import dedup as D
        from tostore_spark.llmops import similarity as S
        anchors = emb.filter(F.col("vec_id") < 5)
        r1 = S.hard_negatives(emb, anchors=anchors, k=3)
        monkeypatch.setattr(D, "_spread", lambda df: df)
        r2 = S.hard_negatives(emb, anchors=anchors, k=3)
        assert r1.exceptAll(r2).count() == 0
        assert r2.exceptAll(r1).count() == 0


class TestLocalDfFidelity:
    """local_df (Arrow-backed local frames) must be observationally
    identical to createDataFrame on every supported shape, and must
    FALL BACK (not silently diverge) on the excluded ones."""

    CASES = [
        ("`__bounds` array<double>", [([1.0, 2.5],), ([],)]),
        ("a bigint, b string, c double", [(1, "x", 1.5),
                                          (None, None, None)]),
        ("a int, b boolean", [(1, True), (2, None)]),
        ("d date", None),       # filled in test (datetime import)
        ("dec decimal(18,6)", None),
        ("v array<double>, k bigint", [([0.25, -1.5], 7)]),
        ("s struct<x: bigint, y: string>", [((1, "q"),), ((None, None),)]),
        ("m map<string,bigint>", [({"a": 1, "b": None},)]),
        ("bin binary", None),
        ("ts timestamp", None),
    ]

    def _fill(self, ddl, rows):
        import datetime
        import decimal
        if rows is not None:
            return rows
        return {
            "d date": [(datetime.date(2024, 1, 2),), (None,)],
            "dec decimal(18,6)": [(decimal.Decimal("1.234567"),), (None,)],
            "bin binary": [(bytearray(b"ab"),)],
            "ts timestamp": [(datetime.datetime(2024, 1, 1, 12, 0, 0),),
                             (None,)],
        }[ddl]

    def test_value_and_schema_parity(self, spark):
        from tostore_spark.localdf import local_df
        for ddl, rows in self.CASES:
            rows = self._fill(ddl, rows)
            classic = spark.createDataFrame(rows, ddl)
            fast = local_df(spark, rows, ddl)
            assert fast.schema == classic.schema, ddl
            assert fast.collect() == classic.collect(), ddl

    def test_fast_path_taken_for_plain_types(self, spark):
        # the point of the module: no pickled-RDD scan in the plan
        from tostore_spark.localdf import local_df
        df = local_df(spark, [([1.0, 2.0],)], "`__bounds` array<double>")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" not in plan or "mapPartitions" not in plan

    def test_ntz_falls_back(self, spark):
        import datetime
        from tostore_spark.localdf import local_df
        rows = [(datetime.datetime(2024, 1, 1, 12, 0),)]
        classic = spark.createDataFrame(rows, "t timestamp_ntz")
        fast = local_df(spark, rows, "t timestamp_ntz")
        assert fast.schema == classic.schema
        assert fast.collect() == classic.collect()

    def test_arity_mismatch_still_raises(self, spark):
        from tostore_spark.localdf import local_df
        with pytest.raises(Exception):
            local_df(spark, [(1,)], "a bigint, b string").collect()

    def test_column_name_list_schema_matches_classic(self, spark):
        from tostore_spark.localdf import local_df
        rows = [(1,), (2,)]
        classic = spark.createDataFrame(rows, ["__del_id"])
        fast = local_df(spark, rows, ["__del_id"])
        assert fast.schema == classic.schema
        assert fast.collect() == classic.collect()


class TestWidePairScoringLayouts:
    """r17 follow-up commit: tfidf_similar_pairs pins a wide
    tok-partitioned layout before its checkpoint, and build_knn_graph's
    cell self-join broadcasts when the planner's estimate of the pinned
    corpus is under the session threshold.  Both are layout/strategy-only
    changes — pin that values are identical either way, and pin the
    ``broadcast.fits`` decision rule itself."""

    @pytest.fixture(scope="class")
    def emb_files(self, spark, tmp_path_factory):
        import random
        rnd = random.Random(11)
        rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)], i % 2)
                for i in range(60)]
        path = str(tmp_path_factory.mktemp("embf") / "emb.parquet")
        (spark.createDataFrame(rows, "vec_id int, embedding array<double>,"
                               " label int").coalesce(1)
              .write.parquet(path))
        return spark.read.parquet(path)

    def test_fits_broadcast_decision(self, spark, emb_files):
        from tostore_spark.broadcast import fits
        # tiny file-backed frame under the 64MB session threshold
        assert fits(emb_files) is True
        # non-file-backed frame: unknown size -> safe False
        assert fits(spark.createDataFrame([(1,)], "a int")) is False
        # disabled threshold -> False even for tiny file-backed frames
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "-1")
            assert fits(emb_files) is False
        finally:
            spark.conf.set(key, old)

    def test_graph_build_broadcast_matches_shuffle(self, spark, emb_files):
        from tostore_spark.broadcast import fits
        from tostore_spark.llmops import similarity as S
        cents = S.fixed_centroids(8, 4)
        emb = emb_files.select("vec_id", "embedding")
        assert fits(emb_files) is True   # default = broadcast

        def build():
            """Both frames, computed under the current threshold."""
            g, h = S.build_knn_graph(emb, n_neighbors=3, n_cells=4,
                                     centroids=cents, bridge_cells=1,
                                     ring_skips=(1,))
            plan = g._jdf.queryExecution().executedPlan().toString()
            return (g.localCheckpoint(eager=True),
                    h.localCheckpoint(eager=True), plan)

        g1, h1, plan1 = build()
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "-1")
            g2, h2, plan2 = build()
        finally:
            spark.conf.set(key, old)
        assert g1.exceptAll(g2).count() == 0
        assert g2.exceptAll(g1).count() == 0
        assert h1.exceptAll(h2).count() == 0
        assert h2.exceptAll(h1).count() == 0
        assert "SortMergeJoin" not in plan1
        assert "SortMergeJoin" in plan2

    def test_tfidf_pairs_partitioning_independent(self, spark):
        from tostore_spark.llmops.search import tfidf_similar_pairs
        docs = spark.createDataFrame(
            [(i, f"tok{i % 3} tok{i % 5} tok{i % 7} shared common")
             for i in range(24)], "doc_id int, text string").coalesce(1)
        wide = tfidf_similar_pairs(docs, k=10, max_df_frac=0.9)
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "1")      # degenerate 1-partition layout
            narrow = tfidf_similar_pairs(docs, k=10, max_df_frac=0.9)
            assert wide.exceptAll(narrow).count() == 0
            assert narrow.exceptAll(wide).count() == 0
        finally:
            spark.conf.set(key, old)
