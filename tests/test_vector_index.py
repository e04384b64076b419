"""Persisted IVF index lifecycle + skew-safe dedup blocking.

Reference: the NGH vector index is built once and persisted
(ngh_graph_engine.dart:14-80); here the index is the cell-assigned corpus
written as parquet partitioned by cell_id (probe = partition pruning) plus
a centroid sidecar.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def db01(spark):
    from tostore_spark import ToStoreSpark
    return ToStoreSpark(spark, data_dir=SF01)


def test_ivf_recall_at_10(spark, db01, tmp_path_factory):
    from tostore_spark import ToStoreSpark
    emb = db01.df("embeddings")
    qv = [float(x) for x in
          emb.filter("vec_id = 7").collect()[0]["embedding"]]
    db2 = ToStoreSpark(spark)
    db2.register_table("e_r", df=emb)
    exact = [r["vec_id"] for r in
             db2.vector_search("e_r", "embedding", qv, top_k=10,
                               use_index=False).collect()]
    path = str(tmp_path_factory.mktemp("ivf_recall"))
    db2.build_vector_index("e_r", "embedding", n_cells=8, path=path,
                           id_field="vec_id")
    approx = [r["vec_id"] for r in
              db2.vector_search("e_r", "embedding", qv, top_k=10,
                                nprobe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, f"recall@10 = {recall}"


def test_ivf_index_persisted_and_reused(spark, db01, tmp_path_factory):
    from tostore_spark import ToStoreSpark
    path = str(tmp_path_factory.mktemp("ivf_persist"))
    db2 = ToStoreSpark(spark)
    db2.register_table("e_p", df=db01.df("embeddings"))
    db2.build_vector_index("e_p", "embedding", n_cells=8, path=path,
                           id_field="vec_id")
    # on-disk layout: hive-partitioned cells + centroid sidecar
    cells = os.listdir(os.path.join(path, "cells"))
    assert any(c.startswith("cell_id=") for c in cells)
    assert os.path.exists(os.path.join(path, "centroids.json"))
    qv = [0.1] * 64
    r1 = [r["vec_id"] for r in
          db2.vector_search("e_p", "embedding", qv, top_k=5).collect()]
    # a fresh engine loads the SAME index from disk — no rebuild
    db3 = ToStoreSpark(spark)
    db3.register_table("e_p", df=db01.df("embeddings"))
    db3.load_vector_index("e_p", "embedding", path, id_field="vec_id")
    r2 = [r["vec_id"] for r in
          db3.vector_search("e_p", "embedding", qv, top_k=5).collect()]
    assert r1 == r2
    # probe plan prunes partitions: only nprobe of n_cells directories read
    plan = (db3.vector_search("e_p", "embedding", qv, top_k=5, nprobe=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [cell_id" in plan


def test_ivf_stale_index_falls_back_to_exact(spark, db01):
    from tostore_spark import ToStoreSpark
    db2 = ToStoreSpark(spark)
    db2.register_table("e_s", df=db01.df("embeddings"))
    db2.build_vector_index("e_s", "embedding", n_cells=8, id_field="vec_id")
    qv = [0.1] * 64
    out = db2.vector_search("e_s", "embedding", qv, top_k=5)
    assert "cell_id" in out.columns  # served from the index
    # a write bumps the generation → index is stale → exact scan again
    db2.update("e_s").allow_update_all().set({"label": 0})
    out2 = db2.vector_search("e_s", "embedding", qv, top_k=5)
    assert "cell_id" not in out2.columns
    with pytest.raises(ValueError, match="fresh"):
        db2.vector_search("e_s", "embedding", qv, top_k=5, use_index=True)


def test_kmeans_cells_balanced(spark, db01):
    from tostore_spark.llmops import similarity as S
    indexed, cents = S.ivf_build(db01.df("embeddings"), n_cells=8)
    sizes = [r["n"] for r in indexed.groupBy("cell_id")
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    assert len(sizes) == 8
    total = sum(sizes)
    # no lopsided cells: the old first-N-by-id centroids produced cells
    # holding most of the corpus; spherical k-means keeps every cell
    # under 3x the fair share on this corpus
    assert max(sizes) < 3 * total / 8, sizes


def test_gram_band_blocking_bounds_buckets(spark):
    """A pathological corpus where every doc has the same token COUNT (the
    old decile block → one quadratic bucket) but different content: minhash
    band buckets stay small."""
    from tostore_spark.llmops.dedup import gram_band_column, word_ngrams
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(20))) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    banded = (df.select("doc_id",
                        F.explode(gram_band_column(
                            word_ngrams(F.col("text"), 3))).alias("band")))
    sizes = [r["n"] for r in banded.groupBy("band")
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    # 300 docs x 4 bands; identical-length-but-distinct docs must not
    # collapse into one bucket (decile blocking would give one 300-doc
    # bucket = 44850 candidate pairs)
    assert max(sizes) <= 4, f"max band bucket {max(sizes)}"


def test_ngram_jaccard_finds_near_dups(spark):
    base = " ".join(f"tok{j}" for j in range(30))
    near = " ".join(f"tok{j}" for j in range(29)) + " changed"
    far = " ".join(f"other{j}" for j in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"])
    from tostore_spark.llmops.dedup import ngram_jaccard_pairs
    pairs = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_kmeans_clamps_n_cells_to_corpus(spark):
    """n_cells > corpus size must clamp, not IndexError (tiny tables)."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.llmops import similarity as S
    rows = [(i, [float(i), 1.0, 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = S.kmeans_centroids(df, n_cells=16, id_field="vec_id")
    assert 1 <= len(cents) <= 5
    db = ToStoreSpark(spark)
    db.register_table("tiny_v", df=df)
    db.build_vector_index("tiny_v", "embedding", n_cells=16,
                          id_field="vec_id")
    # ef_search >= corpus -> probe every cell -> exact top-3 despite the
    # one-row-per-cell degenerate clustering
    out = db.vector_search("tiny_v", "embedding", [1.0, 1.0, 0.0], top_k=3,
                           ef_search=100)
    assert out.count() == 3
    with pytest.raises(ValueError, match="empty"):
        S.kmeans_centroids(df.filter("vec_id < 0"), n_cells=4,
                           id_field="vec_id")


def test_ef_search_to_nprobe_contract(spark, db01, tmp_path_factory):
    """efSearch (reference candidate-pool knob) -> nprobe mapping: probe
    enough cells to scan ~efSearch vectors; efSearch >= corpus = scan all
    cells (exact); recall@10 >= 0.9 at TWO corpus sizes."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.llmops.similarity import ef_search_to_nprobe
    # unit contract: 1000-row corpus, 10 cells of ~100
    assert ef_search_to_nprobe(100, 10, 1000) == 1
    assert ef_search_to_nprobe(250, 10, 1000) == 3
    assert ef_search_to_nprobe(10_000, 10, 1000) == 10   # exact
    assert ef_search_to_nprobe(1, 10, 1000) == 1         # floor
    emb = db01.df("embeddings")
    for frac, tag in [(1.0, "full"), (0.4, "small")]:
        corpus = emb if frac == 1.0 else emb.filter(
            (F.crc32(F.col("vec_id").cast("string")) % 100) < frac * 100)
        n = corpus.count()
        db2 = ToStoreSpark(spark)
        db2.register_table(f"e_ef_{tag}", df=corpus)
        path = str(tmp_path_factory.mktemp(f"ivf_ef_{tag}"))
        db2.build_vector_index(f"e_ef_{tag}", "embedding", n_cells=8,
                               path=path, id_field="vec_id")
        # efSearch = 3n/4 -> nprobe = ceil(0.75 * 8) = 6 of 8 cells; mean
        # recall over 5 queries (recall is a per-query distribution)
        recalls = []
        for row in corpus.limit(5).collect():
            qv = [float(x) for x in row["embedding"]]
            exact = set(r["vec_id"] for r in db2.vector_search(
                f"e_ef_{tag}", "embedding", qv, top_k=10,
                use_index=False).collect())
            approx = set(r["vec_id"] for r in db2.vector_search(
                f"e_ef_{tag}", "embedding", qv, top_k=10,
                ef_search=3 * n // 4).collect())
            recalls.append(len(exact & approx) / 10)
        mean = sum(recalls) / len(recalls)
        assert mean >= 0.9, f"{tag} (n={n}): mean recall@10 = {mean}"


def test_ivf_search_many_matches_per_query(spark, db01, tmp_path_factory):
    """Batch IVF (one distributed plan for N queries) must return exactly
    what the per-query ivf_search loop returns: same probed cells -> same
    candidates -> same exact top-k."""
    from tostore_spark.llmops import similarity as S
    emb = db01.df("embeddings")
    cents = S.fixed_centroids(64, 8)
    indexed, _ = S.ivf_build(emb, centroids=cents)
    path = str(tmp_path_factory.mktemp("ivf_many"))
    S.ivf_write_index(indexed, cents, path, n_rows=emb.count())
    stored, cents2 = S.ivf_read_index(spark, path)
    queries = emb.filter(F.col("vec_id") < 6)
    batch = S.ivf_search_many(stored, cents2, queries, k=5, nprobe=3)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for q in queries.collect():
        per = S.ivf_search(stored, cents2, list(q["embedding"]), k=5,
                           nprobe=3).collect()
        assert [n for _, n in sorted(got[q["vec_id"]])] == \
            [r["vec_id"] for r in per], f"query {q['vec_id']} diverged"


def test_ivf_search_many_recall_and_pruning(spark, db01, tmp_path_factory):
    """Batch IVF recall@5 >= 0.9 vs the brute-force knn_join at nprobe=4,
    and the probe plan over the persisted index reads only probed cell
    partitions (dynamic partition pruning from the broadcast join)."""
    from tostore_spark.llmops import similarity as S
    emb = db01.df("embeddings")
    indexed, cents = S.ivf_build(emb, n_cells=8)
    path = str(tmp_path_factory.mktemp("ivf_many_prune"))
    S.ivf_write_index(indexed, cents, path, n_rows=emb.count())
    stored, cents2 = S.ivf_read_index(spark, path)
    queries = emb.filter(F.col("vec_id") < 10)
    batch = S.ivf_search_many(stored, cents2, queries, k=5, nprobe=4,
                              exclude_self=True)
    exact = S.knn_join(queries, emb, k=5, metric="cosine")
    approx_n = {q: set(ns) for q, ns in _group(batch)}
    exact_n = {q: set(ns) for q, ns in _group(exact)}
    hits = sum(len(approx_n[q] & exact_n[q]) for q in exact_n)
    recall = hits / (5 * len(exact_n))
    assert recall >= 0.9, f"batch recall@5 = {recall}"
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), \
        "probe scan should partition-prune via the broadcast join"


def _group(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append(r["neighbor_id"])
    return out.items()


def test_ivf_search_many_norm_above_probe_join(spark, db01):
    """r11-verdict plan pin: the corpus-side norm __cn must project
    ABOVE the probe join (norm work ∝ probed fraction, not corpus
    size) and BELOW the per-cell bundle explode (once per probed ROW,
    never per (query, row) pair).  In the optimized-plan tree string,
    parents print before children, so above-the-join means a SMALLER
    line index."""
    from tostore_spark.llmops import similarity as S
    emb = db01.df("embeddings")
    cents = S.fixed_centroids(64, 8)
    indexed, _ = S.ivf_build(emb, centroids=cents)
    queries = emb.filter(F.col("vec_id") < 6)
    out = S.ivf_search_many(indexed, cents, queries, k=5, nprobe=2)
    lines = (out._jdf.queryExecution().optimizedPlan().toString()
             .splitlines())
    cn = [i for i, l in enumerate(lines) if "AS __cn" in l]
    join = [i for i, l in enumerate(lines) if "Join Inner" in l]
    gen = [i for i, l in enumerate(lines)
           if "Generate explode(__qs" in l]
    assert len(cn) == 1, f"__cn must be defined exactly once: {cn}"
    assert join and gen, "probe join / bundle explode missing from plan"
    assert cn[0] < min(join), \
        "__cn must sit ABOVE the probe join (norm ∝ probed fraction)"
    assert min(gen) < cn[0], \
        "__cn must sit BELOW the bundle explode (once per row, not pair)"


def test_vector_search_many_facade(spark, db01):
    """Engine facade: exact knn_join without an index, IVF batch probe with
    one, stale index refuses loudly when forced."""
    from tostore_spark import ToStoreSpark
    db2 = ToStoreSpark(spark)
    db2.register_table("e_many", df=db01.df("embeddings"))
    queries = db01.df("embeddings").filter(F.col("vec_id") < 3)
    exact = db2.vector_search_many("e_many", "embedding", queries, top_k=4,
                                  query_id="vec_id", exclude_self=True)
    assert exact.count() == 12
    db2.build_vector_index("e_many", "embedding", n_cells=8,
                           id_field="vec_id")
    approx = db2.vector_search_many("e_many", "embedding", queries, top_k=4,
                                    ef_search=2000, exclude_self=True)
    assert set(approx.columns) == {"query_id", "neighbor_id", "distance",
                                   "rank"}
    # ef_search >= corpus probes every cell -> identical to exact
    a = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in approx.collect()}
    e = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in exact.collect()}
    assert a == e
    db2.update("e_many").allow_update_all().set({"label": 0})
    with pytest.raises(ValueError, match="fresh"):
        db2.vector_search_many("e_many", "embedding", queries,
                               use_index=True)


def test_ivf_append_incremental_insert(spark, db01, tmp_path_factory):
    """Append assigns only the NEW batch (frozen centroids) and extends
    the cell partitions; searches see old + new; n_rows sidecar tracks."""
    from tostore_spark.llmops import similarity as S
    emb = db01.df("embeddings")
    old, new = emb.filter("vec_id < 400"), emb.filter("vec_id >= 400")
    indexed, cents = S.ivf_build(old, n_cells=8)
    path = str(tmp_path_factory.mktemp("ivf_append"))
    S.ivf_write_index(indexed, cents, path, n_rows=old.count())
    n_new = S.ivf_append(spark, path, new)
    assert n_new == new.count()
    stored, cents2 = S.ivf_read_index(spark, path)
    assert stored.count() == emb.count()
    assert S.ivf_index_meta(path)["n_rows"] == emb.count()
    # an appended vector is findable (probe its own cell: distance 0)
    target = new.limit(1).collect()[0]
    got = S.ivf_search(stored, cents2, list(target["embedding"]), k=1,
                       nprobe=8).collect()
    assert got[0]["vec_id"] == target["vec_id"]


def test_ivf_tombstone_delete_and_compact(spark, db01, tmp_path_factory):
    """Tombstoned ids vanish from every read path immediately; compact
    rewrites ONLY affected cell partitions and drops the sidecar."""
    import os

    from tostore_spark.llmops import similarity as S
    emb = db01.df("embeddings")
    indexed, cents = S.ivf_build(emb, n_cells=8)
    path = str(tmp_path_factory.mktemp("ivf_del"))
    S.ivf_write_index(indexed, cents, path, n_rows=emb.count())
    victims = [r["vec_id"] for r in emb.limit(3).collect()]
    assert S.ivf_delete(spark, path, victims) == 3
    stored, _ = S.ivf_read_index(spark, path)
    assert stored.filter(F.col("vec_id").isin(victims)).count() == 0
    assert S.ivf_index_meta(path)["n_rows"] == emb.count() - 3
    # compaction: untouched cells' files must not be rewritten
    cells_dir = os.path.join(path, "cells")
    victim_cells = {r["cell_id"] for r in
                    spark.read.parquet(cells_dir)
                    .filter(F.col("vec_id").isin(victims))
                    .select("cell_id").distinct().collect()}
    untouched = next(c for c in sorted(
        int(d.split("=")[1]) for d in os.listdir(cells_dir)
        if d.startswith("cell_id=")) if c not in victim_cells)
    udir = os.path.join(cells_dir, f"cell_id={untouched}")
    before = {f: os.path.getmtime(os.path.join(udir, f))
              for f in os.listdir(udir) if f.endswith(".parquet")}
    assert S.ivf_compact(spark, path) == 3
    after = {f: os.path.getmtime(os.path.join(udir, f))
             for f in os.listdir(udir) if f.endswith(".parquet")}
    assert before == after, "unaffected cell partition was rewritten"
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    stored2, _ = S.ivf_read_index(spark, path)
    assert stored2.filter(F.col("vec_id").isin(victims)).count() == 0
    assert stored2.count() == emb.count() - 3


def test_ivf_measured_recall(spark, db01, tmp_path_factory):
    """Recall harness: probing every cell is exact (recall 1.0); fewer
    probes trade recall, and the engine facade exposes the measurement."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.llmops import similarity as S
    emb = db01.df("embeddings")
    indexed, cents = S.ivf_build(emb, n_cells=8)
    full = S.ivf_measure_recall(indexed, cents, k=5, nprobe=8,
                                n_queries=10)
    assert full == 1.0
    partial = S.ivf_measure_recall(indexed, cents, k=5, nprobe=2,
                                   n_queries=10)
    assert 0.0 < partial <= 1.0
    db2 = ToStoreSpark(spark)
    db2.register_table("e_rec", df=emb)
    db2.build_vector_index("e_rec", "embedding", n_cells=8,
                           id_field="vec_id")
    r = db2.vector_index_recall("e_rec", "embedding", k=5, nprobe=4,
                                n_queries=10)
    assert 0.0 < r <= 1.0


def test_ivf_recall_on_clustered_vectors(spark):
    """On CLUSTERED vectors (the realistic embedding shape) IVF cells
    align with true clusters and partial probing must keep recall@10
    >= 0.9 at nprobe 4 — the regression-sensitive reading.  The driver
    testdata's structureless vectors can't show this (there recall ==
    probed fraction by construction, BASELINE.md r6), which is why the
    bench recall gate carries both curves."""
    from bench import _clustered_embeddings
    from tostore_spark.llmops import similarity as S
    emb = _clustered_embeddings(spark, n=2000, dim=32, n_clusters=40) \
        .localCheckpoint(eager=True)
    enc, cents = S.ivf_build(emb, n_cells=16)
    enc = enc.localCheckpoint(eager=True)
    r4 = S.ivf_measure_recall(enc, cents, k=10, nprobe=4, n_queries=10)
    assert r4 >= 0.9, f"clustered recall@10 at nprobe 4 = {r4}"


def test_lsh_recall_on_clustered_vectors(spark):
    """Same regression-sensitive fixture for the multi-probe hyperplane
    LSH path: probing 4 of 2^8 buckets on clustered vectors must keep
    mean recall@10 >= 0.9 vs the exact cosine top-10 (the bench gate
    records the same reading each round as lsh_recall_at_10_clustered)."""
    from bench import _clustered_embeddings
    from tostore_spark.vector import vector_search, vector_search_lsh
    emb = _clustered_embeddings(spark, n=2000, dim=32, n_clusters=40) \
        .localCheckpoint(eager=True)
    recalls = []
    for row in emb.orderBy(F.md5(F.col("vec_id").cast("string")).asc(),
                           F.col("vec_id").asc()).limit(5).collect():
        qv = [float(x) for x in row["embedding"]]
        exact = {r["vec_id"] for r in
                 vector_search(emb, "embedding", qv, top_k=11,
                               metric="cosine").collect()
                 if r["vec_id"] != row["vec_id"]}
        approx = {r["vec_id"] for r in
                  vector_search_lsh(emb, "embedding", qv, top_k=11,
                                    metric="cosine", n_planes=8,
                                    n_probes=4).collect()
                  if r["vec_id"] != row["vec_id"]}
        recalls.append(len(exact & approx) / (min(len(exact), 10) or 1))
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.9, f"clustered LSH recall@10 = {mean}"


# ---------------------------------------------------------------- int8 SQ
def test_quantize_roundtrip_error_bounded(spark, db01):
    """Symmetric int8 SQ: |x − dequant(quant(x))| <= scale/2 per element."""
    from tostore_spark.vector import quantize_embeddings, dequantize_column
    emb = db01.df("embeddings").limit(50)
    q = quantize_embeddings(emb.select("vec_id", "embedding"))
    assert dict(q.dtypes)["codes"] == "array<tinyint>"
    back = q.join(emb.select("vec_id", "embedding"), "vec_id").select(
        F.array_max(F.zip_with(
            dequantize_column(F.col("codes"), F.col("scale")),
            F.col("embedding"),
            lambda a, b: F.abs(a - b.cast("double")) / F.greatest(
                F.col("scale"), F.lit(1e-30)))).alias("worst"))
    worst = back.agg(F.max("worst")).collect()[0][0]
    assert worst <= 0.5 + 1e-9, worst


def test_quantize_zero_vector(spark):
    from tostore_spark.vector import quantize_embeddings
    df = spark.createDataFrame([(0, [0.0, 0.0, 0.0]), (1, [1.0, -2.0, 0.5])],
                               "vec_id long, embedding array<double>")
    rows = {r["vec_id"]: r for r in
            quantize_embeddings(df).collect()}
    assert rows[0]["scale"] == 0.0 and rows[0]["codes"] == [0, 0, 0]
    assert rows[1]["codes"][1] == -127


def test_quantized_knn_recall(spark, db01):
    """Quantized+rerank k-NN finds (almost) the same neighbors as exact."""
    from tostore_spark.llmops.similarity import knn_join
    from tostore_spark.vector import quantize_embeddings, quantized_knn_join
    emb = db01.df("embeddings").select("vec_id", "embedding")
    queries = emb.filter("vec_id < 5")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in knn_join(queries, emb, k=5).collect()}
    qq, qc = quantize_embeddings(queries), quantize_embeddings(emb)
    approx = {(r["query_id"], r["neighbor_id"])
              for r in quantized_knn_join(qq, qc, k=5,
                                          rerank=(queries, emb)).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


# ---------------------------------------------------------------- PQ/ADC
def test_pq_train_deterministic(spark, db01):
    from tostore_spark.llmops import pq as PQ
    emb = db01.df("embeddings").select("vec_id", "embedding")
    b1 = PQ.pq_train(emb, m=4, n_codes=8, sample=128)
    b2 = PQ.pq_train(emb, m=4, n_codes=8, sample=128)
    assert b1 == b2
    assert len(b1) == 4 and len(b1[0]) == 8 and len(b1[0][0]) == 16


def test_pq_encode_shape_and_bounds(spark, db01):
    from tostore_spark.llmops import pq as PQ
    emb = db01.df("embeddings").select("vec_id", "embedding").limit(50)
    books = PQ.pq_train(emb, m=8, n_codes=16, sample=50)
    enc = PQ.pq_encode(emb, books)
    assert dict(enc.dtypes)["pq_codes"] == "array<tinyint>"
    mx = enc.select(F.array_max("pq_codes").alias("m")).agg(
        F.max("m")).collect()[0][0]
    assert 0 <= mx <= 15
    assert enc.filter(F.size("pq_codes") != 8).count() == 0


def test_pq_adc_rerank_recall(spark, db01):
    """Trained codebooks + oversampled exact re-rank recover the exact
    L2 top-10 (recall >= 0.9) while scoring only m byte-lookups/row."""
    from tostore_spark.llmops import pq as PQ
    emb = db01.df("embeddings").select("vec_id", "embedding")
    rows = emb.collect()
    qv = [float(x) for x in rows[7]["embedding"]]

    def l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    exact = {i for _, i in sorted(
        (l2(qv, [float(x) for x in r["embedding"]]), r["vec_id"])
        for r in rows)[:10]}
    books = PQ.pq_train(emb, m=8, n_codes=64, sample=500)
    enc = PQ.pq_encode(emb, books)
    got = [r["vec_id"] for r in
           PQ.pq_search(enc, books, qv, k=10, rerank_field="embedding",
                        oversample=8).collect()]
    recall = len(exact & set(got)) / 10
    assert recall >= 0.9, recall


def test_ivfpq_persisted_prune_and_recall(spark, db01, tmp_path_factory):
    """IVFPQ: persisted index round-trips (cells + centroid + codebook
    sidecars), a probe partition-prunes, and trained books + re-rank
    keep recall against the exact scan."""
    from tostore_spark.llmops import pq as PQ
    emb = db01.df("embeddings").select("vec_id", "embedding")
    enc, cents, books = PQ.ivfpq_build(emb, n_cells=8, m=8, n_codes=64,
                                       sample=500)
    path = str(tmp_path_factory.mktemp("ivfpq"))
    PQ.ivfpq_write_index(enc, cents, books, path)
    enc2, c2, b2 = PQ.ivfpq_read_index(spark, path)
    assert b2 == books
    rows = emb.collect()
    qv = [float(x) for x in rows[7]["embedding"]]

    def l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    exact = {i for _, i in sorted(
        (l2(qv, [float(x) for x in r["embedding"]]), r["vec_id"])
        for r in rows)[:10]}
    out = PQ.ivfpq_search(enc2, c2, b2, qv, k=10, nprobe=8,
                          rerank_field="embedding", oversample=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell_id" in plan
    got = {r["vec_id"] for r in out.collect()}
    assert len(exact & got) / 10 >= 0.9   # all cells probed -> PQ-only loss


def test_truncate_normalize_unit_norm_and_recall_shape(spark, db):
    import math
    from tostore_spark.llmops.linalg import truncate_normalize
    emb = db.df("embeddings").limit(50)
    out = truncate_normalize(emb, 16).collect()
    for r in out[:10]:
        v = r["embedding_trunc"]
        assert len(v) == 16
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-9
        # direction preserved: truncated coords proportional to originals
        orig = [float(x) for x in r["embedding"][:16]]
        n = math.sqrt(sum(x * x for x in orig))
        if n > 0:
            for a, b in zip(v, orig):
                assert abs(a - b / n) < 1e-9
    # renorm=False is a pure slice
    raw = truncate_normalize(emb, 8, renorm=False).collect()[0]
    assert [float(x) for x in raw["embedding_trunc"]] == \
        [float(x) for x in raw["embedding"][:8]]
    import pytest as _pt
    with _pt.raises(ValueError):
        truncate_normalize(emb, 0)


def test_graph_ann_build_shape(spark):
    """build_knn_graph invariants: no self-edges, out-degree bounded by
    n_neighbors + bridge_cells + |ring_skips|, every node present as a
    source, one hub per cell, and the ring makes the graph navigable
    (every node has an INCOMING edge — the property whose absence sank
    the hub-bridge-only design)."""
    from bench import _clustered_embeddings
    from tostore_spark.llmops.similarity import build_knn_graph

    emb = _clustered_embeddings(spark, n=500, dim=16, n_clusters=25) \
        .localCheckpoint(eager=True)
    graph, hubs = build_knn_graph(emb, n_neighbors=4, n_cells=8,
                                  bridge_cells=1, ring_skips=(1, 7))
    g = graph.localCheckpoint(eager=True)
    assert g.filter("node_id = neighbor_id").count() == 0
    deg = g.groupBy("node_id").count().agg(
        F.max("count").alias("mx"), F.count("*").alias("nodes")).first()
    assert deg["mx"] <= 4 + 1 + 2
    assert deg["nodes"] == 500                 # every node is a source
    # navigability: every node is reachable (has in-degree >= 1)
    assert g.select("neighbor_id").distinct().count() == 500
    assert hubs.count() == 8
    assert hubs.select("cell_id").distinct().count() == 8


def test_graph_ann_recall_on_clustered_vectors(spark):
    """Beam search over the Vamana-lite graph must reach >= 0.85
    recall@10 on the clustered fixture at the bench knobs (ef=24,
    5 hops) — the regression floor under the drift reading
    BENCH_DETAIL.recall.graph_recall_at_10 records each round."""
    from bench import _clustered_embeddings
    from tostore_spark.llmops.similarity import (build_knn_graph,
                                                 graph_measure_recall)

    emb = _clustered_embeddings(spark, n=2000, dim=32, n_clusters=40) \
        .localCheckpoint(eager=True)
    graph, hubs = build_knn_graph(emb, n_neighbors=8, n_cells=16)
    graph = graph.localCheckpoint(eager=True)
    r = graph_measure_recall(graph, emb, hubs, k=10, ef=24, max_hops=5,
                             n_queries=10)
    assert r["recall"] >= 0.85, f"graph clustered recall = {r}"
    # the beam probed a bounded slice, not the corpus
    assert r["probed_fraction"] <= 0.5


def test_graph_ann_beats_flat_probed_floor(spark):
    """On STRUCTURELESS vectors any cell-pruning index floors at
    recall == probed fraction; the beam's distance-greedy expansion
    must beat its own probed fraction by a clear margin — the reading
    that says the graph earns its build cost where IVF cannot."""
    from tostore_spark.llmops.similarity import (build_knn_graph,
                                                 graph_measure_recall)
    from tostore_spark.vector import random_hyperplanes

    rows = [(i, [float(x) for x in v]) for i, v in
            enumerate(random_hyperplanes(24, 800, seed=7))]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
               .localCheckpoint(eager=True)
    graph, hubs = build_knn_graph(emb, n_neighbors=8, n_cells=16)
    graph = graph.localCheckpoint(eager=True)
    r = graph_measure_recall(graph, emb, hubs, k=10, ef=32, max_hops=3,
                             n_queries=10)
    assert r["recall"] >= r["probed_fraction"] * 1.2, \
        f"beam does not beat the probed-fraction floor: {r}"


def test_hard_negatives_blocked_equals_exact_at_full_probe(spark, db01):
    """Cell-blocked whole-corpus mining with nprobe == n_cells scores
    every pair, so it must EQUAL the exact tier anchor-for-anchor —
    the blocked path's correctness anchor (the recall knob only ever
    drops pairs, never invents them)."""
    from tostore_spark.llmops.similarity import hard_negatives
    emb = db01.df("embeddings").filter("vec_id < 120") \
              .localCheckpoint(eager=True)
    exact = hard_negatives(emb, anchors=emb, k=3)
    blocked = hard_negatives(emb, k=3, n_cells=4, nprobe=4)
    key = ["query_id", "neighbor_id", "rank"]
    a = {tuple(r) for r in exact.select(*key).collect()}
    b = {tuple(r) for r in blocked.select(*key).collect()}
    assert a == b and len(a) == 120 * 3


def test_hard_negatives_labels_differ_and_recall(spark):
    """On the clustered fixture (label = true cluster) every mined
    negative has a different label by contract, and cell-blocked
    mining at nprobe 4 keeps recall@3 >= 0.8 vs the exact tier —
    near-boundary negatives live in adjacent cells, which the probe
    ring covers."""
    from pyspark.sql import functions as F
    from bench import _clustered_embeddings
    from tostore_spark.llmops.similarity import hard_negatives
    emb = (_clustered_embeddings(spark, n=600, dim=16, n_clusters=12)
           .withColumn("label", F.pmod("vec_id", F.lit(12)))
           .localCheckpoint(eager=True))
    blocked = hard_negatives(emb, k=3, n_cells=8, nprobe=4) \
        .localCheckpoint(eager=True)
    assert blocked.filter("query_label = neighbor_label").count() == 0
    exact = hard_negatives(emb, anchors=emb, k=3)
    hits = (exact.select("query_id", "neighbor_id")
            .join(blocked.select("query_id", "neighbor_id"),
                  on=["query_id", "neighbor_id"]).count())
    recall = hits / exact.count()
    assert recall >= 0.8, f"blocked hard-negative recall@3 = {recall}"


def test_hard_negatives_null_label_never_pairs(spark):
    """SQL two-valued semantics: a null-labeled row is neither anchor
    nor negative (label != label is null-false on either side)."""
    from pyspark.sql import functions as F
    from tostore_spark.llmops.similarity import hard_negatives
    rows = [(0, [1.0, 0.0], "a"), (1, [0.9, 0.1], "b"),
            (2, [0.8, 0.2], None), (3, [0.0, 1.0], "a")]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    out = hard_negatives(emb, anchors=emb, k=4).collect()
    ids = {(r.query_id, r.neighbor_id) for r in out}
    assert all(q != 2 and n != 2 for q, n in ids)
    # anchor 0 ('a') pairs only with 1 ('b'); 3 is same-label, 2 null
    assert {(0, 1), (1, 0), (1, 3), (3, 1)} == ids


# ------------------------------------------------------- graph lifecycle
# (persisted Vamana-lite graph: write/read + beam-search append +
# tombstone delete + compaction — the IVF lifecycle's graph twin,
# reference ngh_graph_engine.dart:14-80 incremental insert/delete)

def test_graph_lifecycle_persist_append_delete(spark, tmp_path_factory):
    from bench import _clustered_embeddings
    from tostore_spark.llmops import similarity as sim

    full = _clustered_embeddings(spark, n=1600, dim=16, n_clusters=20) \
        .localCheckpoint(eager=True)
    base = full.filter("vec_id < 1500").localCheckpoint(eager=True)
    extra = full.filter("vec_id >= 1500").localCheckpoint(eager=True)
    path = str(tmp_path_factory.mktemp("gidx"))

    graph, hubs = sim.build_knn_graph(base, n_neighbors=6, n_cells=8)
    sim.graph_write_index(graph.localCheckpoint(eager=True), hubs, path,
                          n_rows=1500, params={"n_neighbors": 6})
    e0, h0, meta = sim.graph_read_index(spark, path)
    assert e0.count() == graph.count() and h0.count() == 8
    assert meta["n_rows"] == 1500

    # baseline recall of the persisted graph on the base corpus
    r_before = sim.graph_measure_recall(
        e0.localCheckpoint(eager=True), base, h0, k=10, ef=24,
        max_hops=5, n_queries=8)

    # append: new nodes beam-insert with bidirectional edges
    n = sim.graph_append(spark, path, base, extra, n_neighbors=6,
                         ef=24, max_hops=5)
    assert n == 100
    assert sim.graph_index_meta(path)["n_rows"] == 1600
    e1, h1, _ = sim.graph_read_index(spark, path)
    e1 = e1.localCheckpoint(eager=True)
    # every appended node is both a source and REACHABLE (back-links)
    new_src = e1.join(extra.select(F.col("vec_id").alias("node_id")),
                      on="node_id", how="semi")
    new_dst = e1.join(extra.select(F.col("vec_id").alias("neighbor_id")),
                      on="neighbor_id", how="semi")
    assert new_src.select("node_id").distinct().count() == 100
    assert new_dst.select("neighbor_id").distinct().count() == 100
    # recall on the grown corpus stays within eps of the pre-append
    # reading (the append must not degrade the index it extends)
    r_after = sim.graph_measure_recall(e1, full, h1, k=10, ef=24,
                                       max_hops=5, n_queries=8)
    assert r_after["recall"] >= r_before["recall"] - 0.1, \
        (r_before, r_after)

    # delete: tombstoned ids vanish from every read path immediately
    victims = [r["vec_id"] for r in extra.limit(3).collect()]
    assert sim.graph_delete(spark, path, victims) == 3
    e2, h2, meta2 = sim.graph_read_index(spark, path)
    assert meta2["n_rows"] == 1597
    assert e2.filter(F.col("node_id").isin(victims)
                     | F.col("neighbor_id").isin(victims)).count() == 0
    res = sim.graph_search_many(
        e2.localCheckpoint(eager=True), full,
        full.filter("vec_id = 10"), h2, k=10, ef=24, max_hops=5)
    assert res.filter(F.col("neighbor_id").isin(victims)).count() == 0

    # re-inserting a tombstoned id raises until compaction
    with pytest.raises(ValueError, match="tombstoned"):
        sim.graph_append(spark, path, base,
                         full.filter(F.col("vec_id") == victims[0]))

    # compact: physical removal, sidecar gone, edges match the live view
    n_live = e2.count()      # pin BEFORE compact deletes the sidecar
    removed = sim.graph_compact(spark, path)
    assert removed > 0
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    e3, _, _ = sim.graph_read_index(spark, path)
    assert e3.filter(F.col("node_id").isin(victims)
                     | F.col("neighbor_id").isin(victims)).count() == 0
    assert e3.count() == n_live


def test_robust_prune_degree_diversity_and_floor(spark):
    """robust_prune invariants: out-degree capped, the closest edge
    always survives (min_keep floor), and a redundant clique edge is
    dropped in favor of a direction-diverse one."""
    from tostore_spark.llmops.similarity import robust_prune

    # node 0's candidates: 1 and 2 nearly colinear (2 covered by 1),
    # 3 orthogonal.  alpha-prune at degree 2 must keep {1, 3}, not {1, 2}.
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.14]), (2, [0.97, 0.24]),
         (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    edges = spark.createDataFrame(
        [(0, 1, 0.01), (0, 2, 0.03), (0, 3, 1.0)],
        "node_id long, neighbor_id long, distance double")
    kept = robust_prune(edges, vecs, max_degree=2, alpha=1.2)
    got = {r["neighbor_id"] for r in kept.collect()}
    assert got == {1, 3}, got


def test_build_knn_graph_prune_keeps_contract(spark):
    """prune_alpha widens the kNN pool then prunes back: the out-degree
    cap, every-node-a-source, and navigability invariants all hold."""
    from bench import _clustered_embeddings
    from tostore_spark.llmops.similarity import build_knn_graph

    emb = _clustered_embeddings(spark, n=500, dim=16, n_clusters=25) \
        .localCheckpoint(eager=True)
    graph, hubs = build_knn_graph(emb, n_neighbors=4, n_cells=8,
                                  bridge_cells=1, ring_skips=(1, 7),
                                  prune_alpha=1.2)
    g = graph.localCheckpoint(eager=True)
    assert g.filter("node_id = neighbor_id").count() == 0
    deg = g.groupBy("node_id").count().agg(
        F.max("count").alias("mx"), F.count("*").alias("nodes")).first()
    assert deg["mx"] <= 4 + 1 + 2
    assert deg["nodes"] == 500
    assert g.select("neighbor_id").distinct().count() == 500


def test_graph_refine_lifts_flat_recall(spark):
    """graph_refine (global beam-searched candidates + robust prune)
    must beat the probed-fraction floor by a wide margin on
    STRUCTURELESS vectors — the r9 verdict's flat-recall gap.  At bench
    scale the measured lift is 0.605 -> 0.685 at equal probed fraction
    (BENCH_DETAIL.recall.graph_recall_at_10.flat_refined)."""
    from tostore_spark.llmops.similarity import (build_knn_graph,
                                                 graph_measure_recall,
                                                 graph_refine)
    from tostore_spark.vector import random_hyperplanes

    rows = [(i, [float(x) for x in v]) for i, v in
            enumerate(random_hyperplanes(24, 800, seed=7))]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
               .localCheckpoint(eager=True)
    graph, hubs = build_knn_graph(emb, n_neighbors=8, n_cells=16)
    graph = graph.localCheckpoint(eager=True)
    refined = graph_refine(graph, emb, hubs, n_neighbors=8, ef=16,
                           max_hops=3, alpha=1.2) \
        .localCheckpoint(eager=True)
    # degree contract: n_neighbors pruned + |ring_skips| unpruned
    mx = refined.groupBy("node_id").count().agg(F.max("count")).first()[0]
    assert mx <= 8 + 3
    r = graph_measure_recall(refined, emb, hubs, k=10, ef=24,
                             max_hops=5, n_queries=10)
    assert r["recall"] >= r["probed_fraction"] * 1.5, \
        f"refined graph under the 1.5x floor margin: {r}"
    assert r["recall"] >= 0.5, f"refined flat recall regressed: {r}"


def test_engine_graph_index_facade(spark, db01, tmp_path_factory):
    """The engine-level graph lifecycle (the reference's NGH default
    vectorSearch path): build_graph_index -> graph_search returns table
    rows + exact distances in rank order; a write staleness-guards the
    index; load_graph_index refreshes after similarity-level append."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.llmops import similarity as sim

    db2 = ToStoreSpark(spark)
    emb = db01.df("embeddings").filter("vec_id < 150") \
              .localCheckpoint(eager=True)
    db2.register_table("e_g", df=emb)
    path = str(tmp_path_factory.mktemp("gidx_facade"))
    db2.build_graph_index("e_g", "embedding", path=path,
                          id_field="vec_id", n_neighbors=6, n_cells=4)
    qv = [float(x) for x in
          emb.filter("vec_id = 7").collect()[0]["embedding"]]
    got = db2.graph_search("e_g", "embedding", qv, top_k=5,
                           ef_search=24, max_hops=4).collect()
    assert len(got) == 5
    assert [r["rank"] for r in got] == [1, 2, 3, 4, 5]
    assert got[0]["vec_id"] == 7 and got[0]["distance"] < 1e-9
    assert "label" in got[0].asDict()          # table columns joined back
    # recall surface works and the beam is bounded
    r = db2.graph_index_recall("e_g", "embedding", k=5, ef_search=24,
                               max_hops=4, n_queries=5)
    assert r["recall"] >= 0.6 and r["probed_fraction"] < 1.0
    # staleness: a write bumps the generation -> loud error
    db2.update("e_g").allow_update_all().set({"label": 0})
    import pytest as _pt
    with _pt.raises(ValueError, match="fresh"):
        db2.graph_search("e_g", "embedding", qv, top_k=5)
    # append through the similarity lifecycle + reload = fresh again
    db3 = ToStoreSpark(spark)
    db3.register_table("e_g", df=emb)
    db3.load_graph_index("e_g", "embedding", path, id_field="vec_id")
    assert db3.graph_search_many(
        "e_g", "embedding",
        emb.filter("vec_id < 3"), top_k=3, ef_search=16,
        exclude_self=True).count() == 9


def test_engine_graph_index_append_delete(spark, db01):
    """Facade maintenance pairing: table insert + graph_index_append
    keeps the index fresh AND searchable for the new rows; table
    delete + graph_index_delete hides them again."""
    from pyspark.sql import functions as F
    from tostore_spark import ToStoreSpark

    db2 = ToStoreSpark(spark)
    emb = db01.df("embeddings").localCheckpoint(eager=True)
    base = emb.filter("vec_id < 140")
    extra = emb.filter("vec_id >= 140 AND vec_id < 145") \
               .localCheckpoint(eager=True)
    db2.register_table("e_ga", df=base)
    db2.build_graph_index("e_ga", "embedding", id_field="vec_id",
                          n_neighbors=6, n_cells=4)
    # table insert first, then the paired index append
    db2.set_df("e_ga", db2.df("e_ga").unionByName(extra))
    assert db2.graph_index_append("e_ga", "embedding", extra,
                                  n_neighbors=6, ef_search=24,
                                  max_hops=4) == 5
    qv = [float(x) for x in
          extra.filter("vec_id = 141").collect()[0]["embedding"]]
    got = db2.graph_search("e_ga", "embedding", qv, top_k=3,
                           ef_search=24, max_hops=4).collect()
    assert got[0]["vec_id"] == 141          # appended node is findable
    # paired delete: table row removed + index tombstoned
    db2.set_df("e_ga", db2.df("e_ga").filter("vec_id <> 141"))
    assert db2.graph_index_delete("e_ga", "embedding", [141]) == 1
    got2 = db2.graph_search("e_ga", "embedding", qv, top_k=3,
                            ef_search=24, max_hops=4).collect()
    assert all(r["vec_id"] != 141 for r in got2)


def test_robust_prune_invariants_random(spark):
    """Property sweep over seeded random candidate sets: the pruned set
    is a subset of the candidates, the closest edge of every node
    always survives (min_keep floor), out-degree never exceeds
    max_degree, the result never falls below the sequential greedy
    (two-round veto ⊇ greedy — the docstring's containment claim,
    checked against a per-node Python reference), and the pass is
    deterministic."""
    import math
    import random

    from tostore_spark.llmops.similarity import robust_prune

    def greedy(cands, vecs, alpha):
        # the sequential Vamana prune, per node: walk candidates by
        # (distance, id); keep v unless an already-KEPT w covers it
        def cos_d(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a)) or 1.0
            nb = math.sqrt(sum(x * x for x in b)) or 1.0
            return 1.0 - dot / (na * nb)
        kept = []
        for v, dv in cands:
            if all(alpha * cos_d(vecs[w], vecs[v]) > dv for w, _ in kept):
                kept.append((v, dv))
        return {v for v, _ in kept}

    for seed in (3, 11, 42):
        rng = random.Random(seed)
        n = 10
        vecs = {i: [rng.uniform(-1, 1) for _ in range(4)] for i in range(n)}
        vrows = [(i, v) for i, v in vecs.items()]
        vdf = spark.createDataFrame(vrows, "vec_id long, embedding array<double>")

        def cos_d(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a)) or 1.0
            nb = math.sqrt(sum(x * x for x in b)) or 1.0
            return 1.0 - dot / (na * nb)
        edges = [(u, v, cos_d(vecs[u], vecs[v]))
                 for u in range(n) for v in range(n) if u != v]
        edf = spark.createDataFrame(
            edges, "node_id long, neighbor_id long, distance double")
        out1 = {(r["node_id"], r["neighbor_id"])
                for r in robust_prune(edf, vdf, max_degree=4,
                                      alpha=1.2).collect()}
        out2 = {(r["node_id"], r["neighbor_id"])
                for r in robust_prune(edf, vdf, max_degree=4,
                                      alpha=1.2).collect()}
        assert out1 == out2                       # deterministic
        allp = {(u, v) for u, v, _ in edges}
        assert out1 <= allp                       # subset of candidates
        # the greedy-containment claim is PRE-CAP (the cap keeps the
        # closest of the superset, which can displace a greedy edge) —
        # verify it with the cap out of the way
        uncapped = {(r["node_id"], r["neighbor_id"])
                    for r in robust_prune(edf, vdf, max_degree=n,
                                          alpha=1.2).collect()}
        for u in range(n):
            mine = {v for (x, v) in out1 if x == u}
            assert len(mine) <= 4                 # degree cap
            closest = min(((v, d) for (x, v, d) in edges if x == u),
                          key=lambda t: (t[1], t[0]))[0]
            assert closest in mine                # min_keep floor
            cands = sorted(((v, d) for (x, v, d) in edges if x == u),
                           key=lambda t: (t[1], t[0]))
            g = greedy(cands, vecs, 1.2)
            mine_uncapped = {v for (x, v) in uncapped if x == u}
            assert g <= mine_uncapped, (u, g - mine_uncapped)


def test_graph_search_many_small_mode_matches_large_mode(
        spark, tmp_path_factory, monkeypatch):
    """A/B: the broadcast small-corpus hop shape and the shuffled hop
    shape return the same neighbors, distances and probed count."""
    from bench import _clustered_embeddings
    from tostore_spark.broadcast import fits
    from tostore_spark.llmops import similarity as S

    path = str(tmp_path_factory.mktemp("gsm") / "emb.parquet")
    (_clustered_embeddings(spark, n=300, dim=8, n_clusters=12)
        .select("vec_id", "embedding").write.parquet(path))
    emb = spark.read.parquet(path)
    graph, hubs = S.build_knn_graph(emb, n_neighbors=4, n_cells=6,
                                    centroids=S.fixed_centroids(8, 6),
                                    ring_skips=(1, 7))
    graph = graph.localCheckpoint(eager=True)
    hubs = hubs.localCheckpoint(eager=True)
    queries = emb.filter("vec_id % 37 = 0")

    # every hop's beam is a pin: record the plans the pins execute
    plans = []
    cls = type(emb)
    real = cls.localCheckpoint

    def recording(self, *a, **kw):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", recording)

    def run():
        del plans[:]
        out, probed = S.graph_search_many(graph, emb, queries, hubs, k=5,
                                          ef=8, max_hops=3,
                                          return_probed=True)
        got = sorted(tuple(r) for r in out.collect()), probed
        return got, "\n".join(plans)

    def hop_join(plan, strategy):
        return re.search(strategy + r" \[node_id#\w+\], \[__gn#\w+\]",
                         plan)

    assert fits(emb) is True          # small mode
    small, small_plan = run()
    monkeypatch.setattr(S, "fits", lambda df: False)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        large, large_plan = run()
    finally:
        spark.conf.set(key, old)
    assert small == large
    assert len(small[0]) == 5 * queries.count()
    # the hop join broadcasts the graph in small mode and shuffles it
    # in large mode
    assert hop_join(small_plan, "BroadcastHashJoin")
    assert not hop_join(large_plan, "BroadcastHashJoin")
    assert hop_join(large_plan, "SortMergeJoin")
