"""The pin primitive (``tostore_spark.pin``): the pin-time job counts
its docstring states, the one-call-site rule, and the pins deleted
because the plan did not need them."""
import os
import re

import pytest
from pyspark.sql import functions as F

from tostore_spark.pin import pin

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark, fn):
    """(result, Spark jobs started inside ``fn``), counted per job group."""
    sc = spark.sparkContext
    _jobs.n = getattr(_jobs, "n", 0) + 1
    group = f"test-pin-{_jobs.n}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group) or [])
    finally:
        sc.setJobGroup(None, None)


@pytest.fixture
def count_pins(monkeypatch, spark):
    """Counts ``DataFrame.localCheckpoint`` calls (every pin)."""
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    calls = []

    def counting(self, *a, **kw):
        calls.append(kw.get("eager"))
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", counting)
    return calls


@pytest.fixture(scope="module")
def scan_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pin") / "t.parquet")
    (spark.range(20000).withColumn("g", F.col("id") % 97)
          .write.parquet(path))
    return path


def _frame(spark, path, root):
    df = spark.read.parquet(path)
    if root == "exchange":
        df = df.groupBy("g").agg(F.sum("id").alias("s"))
    return df


@pytest.mark.parametrize("root,eager,jobs", [
    ("scan", False, 0), ("scan", True, 1),
    ("exchange", False, 1), ("exchange", True, 2)])
def test_pin_time_jobs_under_session_aqe(spark, scan_path, root, eager,
                                         jobs):
    """The module docstring's table, AQE on (the session default): a
    lazy pin over an exchange still runs the exchange's map stage."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = _frame(spark, scan_path, root)
    pinned, n = _jobs(spark, lambda: pin(df, eager=eager))
    assert n == jobs, (root, eager, n)
    assert pinned.count() == (97 if root == "exchange" else 20000)


@pytest.mark.parametrize("root", ["scan", "exchange"])
def test_lazy_pin_runs_nothing_without_aqe(spark, scan_path, root):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = _frame(spark, scan_path, root)
        _, n = _jobs(spark, lambda: pin(df))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert n == 0


def test_pin_is_the_only_local_checkpoint():
    """Every pin in the package goes through ``pin``."""
    hits = []
    pkg = os.path.join(REPO, "tostore_spark")
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as fh:
                    for i, line in enumerate(fh, 1):
                        if re.search(r"\.localCheckpoint\(", line):
                            hits.append((os.path.relpath(path, pkg), i))
    assert [h[0] for h in hits] == ["pin.py"], hits


# ---- deleted pins ---------------------------------------------------
def test_identity_sink_pins_the_batch_once(spark, count_pins):
    """exactly_once_multi_processor merges an identity sink from the
    batch pin itself; only a transformed sink pins its own frame."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.streaming.sink import exactly_once_multi_processor

    db = ToStoreSpark(spark)
    schema = "id long, v long"
    db.register_table("a", df=spark.createDataFrame([], schema))
    db.register_table("b", df=spark.createDataFrame([], schema))
    batch = spark.createDataFrame([(1, 10), (2, 20)], schema)
    proc = exactly_once_multi_processor(db, [
        {"table": "a", "mode": "append"},
        {"table": "b", "mode": "append",
         "transform": lambda df: df.filter("id > 1")}])
    del count_pins[:]
    proc(batch, 0)
    assert count_pins == [True, True]       # batch + transformed sink
    assert sorted(r["id"] for r in db.df("a").collect()) == [1, 2]
    assert [r["id"] for r in db.df("b").collect()] == [2]


def test_train_bpe_does_not_repin_a_pin(spark, count_pins):
    from tostore_spark.llmops.tokenizer import train_bpe

    docs = spark.createDataFrame(
        [(i, "lower lowest newer newest wider") for i in range(4)],
        "doc_id int, text string")
    del count_pins[:]
    m = train_bpe(docs, num_merges=4, checkpoint_every=2)
    # the initial pin + one per 2 merges; word_tokens IS the last one
    assert len(m.merges) == 4 and len(count_pins) == 3
    del count_pins[:]
    m = train_bpe(docs, num_merges=4, min_count=10 ** 6)
    assert m.merges == [] and len(count_pins) == 1
    assert m.word_tokens.count() > 0


def test_graph_search_probed_set_pinned_per_hop(spark, count_pins):
    """return_probed pins the probed set once per hop, not also at the
    seed step (the hop's union reads the seed pairs once)."""
    from tostore_spark.llmops import similarity as S

    rows = [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    graph, hubs = S.build_knn_graph(emb, n_neighbors=3, n_cells=4,
                                    centroids=S.fixed_centroids(3, 4),
                                    ring_skips=(1,))
    graph, hubs = pin(graph, eager=True), pin(hubs, eager=True)
    queries = emb.filter("vec_id < 3")
    del count_pins[:]
    out, probed = S.graph_search_many(graph, emb, queries, hubs, k=3,
                                      ef=4, max_hops=2,
                                      return_probed=True)
    # q, the seed beam, then (probed, beam) per hop; emb is built from
    # Python rows and reports no size, so there is no small-mode pin
    assert len(count_pins) == 2 + 2 * 2, count_pins
    assert out.count() == 9 and probed >= 3
