"""llmops + vector operators: semantics and recall sanity on testdata."""

import math

import pytest
from pyspark.sql import functions as F

from tostore_spark.llmops import dedup as D
from tostore_spark.llmops import similarity as S
from tostore_spark.llmops import text as TX


def test_tokens_and_stats(db, spark):
    sdf = spark.createDataFrame(
        [(1, "The quick brown fox! It is FAST."), (2, ""), (3, "a b c")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in TX.text_stats(sdf, "text").collect()}
    assert out[1]["n_tokens"] == 7
    assert out[1]["lang_guess"] == "en"
    assert out[2]["n_tokens"] == 0 and out[2]["quality"] <= 0.5
    assert 0 < out[1]["punct_ratio"] < 0.2
    assert out[3]["stopword_ratio"] == pytest.approx(1 / 3)


def test_fingerprint_invariance(spark, db):
    sdf = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"])
    fps = {r["doc_id"]: r["fp"] for r in
           sdf.select("doc_id", TX.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_exact_dedup_keeps_min_id(spark, db):
    sdf = spark.createDataFrame(
        [(5, "same"), (2, "same"), (9, "other")], ["doc_id", "text"])
    out = {r["text_hash"]: r for r in D.exact_dedup(sdf).collect()}
    assert sorted((r["keeper_id"], r["n_copies"]) for r in out.values()) == \
        [(2, 2), (9, 1)]


def test_minhash_finds_near_dups(spark, db):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "sleepy")
    far = "completely unrelated content about spark engines and planning"
    sdf = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_pairs(sdf).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_exact_value(spark, db):
    a = "one two three four five"
    b = "one two three four six"
    sdf = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    out = D.ngram_jaccard_pairs(sdf, n=3, threshold=0.0,
                                bucket_field=F.lit(0)).collect()
    # grams a: {one two three, two three four, three four five}
    # grams b: {one two three, two three four, three four six} -> J = 2/4
    assert len(out) == 1 and out[0]["jaccard"] == pytest.approx(0.5)


def test_simhash_identical_for_same_tokens(spark, db):
    sdf = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "ALPHA beta?? gamma"), (3, "zeta eta theta")],
        ["doc_id", "text"])
    hs = {r["doc_id"]: r["sh"] for r in
          sdf.select("doc_id", D.simhash(F.col("text")).alias("sh")).collect()}
    assert hs[1] == hs[2] != hs[3]


def test_knn_join_self_nearest(db):
    emb = db.df("embeddings")
    out = S.knn_join(emb.filter(F.col("vec_id") < 3), emb, k=1,
                     exclude_self=False).collect()
    # with self included, the nearest neighbor of each query is itself
    assert all(r["query_id"] == r["neighbor_id"] for r in out)
    assert all(abs(r["distance"]) < 1e-9 for r in out)


def test_vector_search_metrics_and_scores(db):
    from tostore_spark.vector import vector_search

    q = [math.sin(i + 1) for i in range(64)]
    for metric, check in [
        ("cosine", lambda r: 0 <= r["score"] <= 1),
        ("l2", lambda r: r["score"] == pytest.approx(1 / (1 + r["distance"]))),
        ("innerProduct", lambda r: 0 <= r["score"] <= 1),
    ]:
        rows = vector_search(db.df("embeddings"), "embedding", q,
                             top_k=5, metric=metric, pk="vec_id").collect()
        assert len(rows) == 5
        dists = [r["distance"] for r in rows]
        assert dists == sorted(dists)
        assert all(check(r) for r in rows)


def test_lsh_recall_vs_exact(db):
    """Multi-probe LSH top-1 should usually agree with exact search."""
    from tostore_spark.vector import vector_search, vector_search_lsh

    emb = db.df("embeddings")
    queries = [r["embedding"] for r in
               emb.filter(F.col("vec_id") < 5).orderBy("vec_id").collect()]
    hits = 0
    for qv in queries:
        exact = vector_search(emb, "embedding", qv, top_k=1, pk="vec_id").collect()
        approx = vector_search_lsh(emb, "embedding", qv, top_k=1,
                                   n_planes=6, n_probes=4, pk="vec_id").collect()
        if approx and exact[0]["vec_id"] == approx[0]["vec_id"]:
            hits += 1
    assert hits >= 3  # recall >= 60% on self-queries (exact hit = itself)


def test_ivf_probe_subset(db):
    from tostore_spark.llmops.similarity import ivf_build, ivf_search

    emb = db.df("embeddings")
    indexed, cents = ivf_build(emb, n_cells=4)
    assert indexed.select("cell_id").distinct().count() <= 4
    q = [0.1] * 64
    out = ivf_search(indexed, cents, q, k=3, nprobe=2).collect()
    assert len(out) == 3


def test_multimodal_stub_paths(spark, db):
    from tostore_spark.llmops import multimodal as MM

    sdf = spark.createDataFrame([(1, "hello")], ["doc_id", "text"]) \
        .withColumn("blob", F.encode(F.col("text"), "utf-8"))
    with_meta = MM.attach_media(sdf, "blob", "text", "text/plain")
    meta = with_meta.collect()[0]["blob_meta"]
    assert meta["n_bytes"] == 5 and meta["modality"] == "text"
    feats = MM.extract_features(sdf, "blob", "doc_id", feature_dim=4,
                                deterministic_fake=True).collect()
    assert len(feats[0]["feature"]) == 4
    with pytest.raises(Exception):
        MM.extract_features(sdf, "blob", "doc_id").collect()


def test_multimodal_pluggable_codecs(spark):
    """User-supplied codecs ride the public API into the executors:
    a fake 'decoder' keyed on blob content proves the callable (not the
    built-in fake) ran — the hook a PIL/ffmpeg deployment plugs into."""
    from tostore_spark.llmops import multimodal as MM

    sdf = spark.createDataFrame(
        [(1, "hello"), (2, "world!!")], ["doc_id", "text"]) \
        .withColumn("blob", F.encode(F.col("text"), "utf-8"))

    def my_features(raw: bytes):
        return [float(len(raw)), float(raw[0]) if raw else 0.0]

    feats = {r["id"]: r["feature"] for r in
             MM.extract_features(sdf, "blob", "doc_id",
                                 codec=my_features).collect()}
    assert feats[1] == [5.0, float(ord("h"))]
    assert feats[2] == [7.0, float(ord("w"))]

    def my_resize(raw: bytes, w: int, h: int) -> bytes:
        return raw[:1] * (w * h)

    r = {x["id"]: x for x in
         MM.resize_images(sdf, "blob", "doc_id", width=2, height=2,
                          codec=my_resize).collect()}
    assert bytes(r[1]["blob"]) == b"hhhh" and r[1]["n_bytes"] == 4

    def my_frames(raw: bytes, duration_ms: int, every_n_ms: int):
        return [(0, 0, raw), (1, every_n_ms, raw[::-1])]

    fr = MM.sample_frames(sdf, "blob", "doc_id", every_n_ms=10,
                          codec=my_frames).collect()
    by_key = {(x["id"], x["frame_idx"]): bytes(x["blob"]) for x in fr}
    assert by_key[(1, 0)] == b"hello" and by_key[(1, 1)] == b"olleh"
    assert len(fr) == 4


# ---- pipeline composition (llmops/pipeline.py) ------------------------

def test_hash_sample_deterministic_and_pushdown(spark, db):
    from tostore_spark.llmops import pipeline as P
    docs = db.df("documents")
    a = sorted(r["doc_id"] for r in P.hash_sample(docs, 0.3).select("doc_id").collect())
    b = sorted(r["doc_id"] for r in P.hash_sample(docs, 0.3).select("doc_id").collect())
    assert a == b and 0 < len(a) < docs.count()
    # a 10% sample is a strict subset of the 30% sample (nested by design)
    c = set(r["doc_id"] for r in P.hash_sample(docs, 0.1).select("doc_id").collect())
    assert c <= set(a)


def test_shard_by_tokens_balanced(spark, db):
    from pyspark.sql import functions as F
    from tostore_spark.llmops import pipeline as P
    # distributed LPT default: balanced within 10% of fair share
    out = P.shard_by_tokens(db.df("documents"), n_shards=4)
    totals = [r["t"] for r in
              out.groupBy("shard").agg(F.sum("n_tokens").alias("t")).collect()]
    assert len(totals) == 4
    assert max(totals) - min(totals) < 0.1 * (sum(totals) / 4), totals
    # exact single-window variant: near-perfect balance
    ex = P.shard_by_tokens(db.df("documents"), n_shards=4, exact=True)
    et = [r["t"] for r in
          ex.groupBy("shard").agg(F.sum("n_tokens").alias("t")).collect()]
    assert max(et) - min(et) < 0.02 * (sum(et) / 4), et


def test_shard_by_tokens_distributed_has_no_global_window(spark, db):
    """The default path must never move the corpus through one reducer:
    every Window in the plan is partitioned (by the __grp hash group)."""
    import re
    from tostore_spark.llmops import pipeline as P
    plan = (P.shard_by_tokens(db.df("documents"), n_shards=4)
            ._jdf.queryExecution().executedPlan().toString())
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "__grp" in m.group(1), f"unpartitioned window: {m.group(0)}"
    # the exact variant is the documented opt-in exception
    plan_ex = (P.shard_by_tokens(db.df("documents"), n_shards=4, exact=True)
               ._jdf.queryExecution().executedPlan().toString())
    assert "windowspecdefinition" in plan_ex


def test_clean_corpus_filters(spark, db):
    from pyspark.sql import functions as F
    from tostore_spark.llmops import pipeline as P
    out = P.clean_corpus(db.df("documents"), min_quality=0.5, languages=["en"])
    out.persist()
    assert out.filter(F.col("quality") < 0.5).count() == 0
    assert out.filter(F.col("lang_guess") != "en").count() == 0
    # dedup keep-first: fingerprints unique
    from tostore_spark.llmops.text import fingerprint
    n = out.count()
    assert out.select(fingerprint(F.col("text")).alias("f")).distinct().count() == n


def test_simhash_neardup_matches_bruteforce(spark, db):
    from pyspark.sql import functions as F
    from tostore_spark.llmops.dedup import simhash, simhash_neardup_pairs
    docs = db.df("documents")
    got = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in
                 simhash_neardup_pairs(docs, bits=16, bands=4,
                                       max_hamming=3).collect())
    base = docs.select(F.col("doc_id").alias("id"),
                       simhash(F.col("text"), 16).alias("sh"))
    a, b = base.alias("a"), base.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    want = sorted((r["id_a"], r["id_b"], r["h"]) for r in
                  a.join(b, F.col("a.id") < F.col("b.id"))
                  .select(F.col("a.id").alias("id_a"),
                          F.col("b.id").alias("id_b"), ham.alias("h"))
                  .filter(F.col("h") <= 3).collect())
    # pigeonhole blocking (hamming < bands) has FULL recall vs all-pairs
    assert got == want and len(got) > 0


def test_salted_agg_matches_plain_and_skewed(spark):
    from pyspark.sql import functions as F
    from tostore_spark.functions.skew import salted_agg
    # pathological skew: one key holds 90% of rows
    rows = [("hot" if i % 10 else f"k{i}", float(i)) for i in range(5000)]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {r["k"]: (r["n"], r["total"], r["mx"]) for r in
           salted_agg(df, ["k"], {"n": ("count", "*"), "total": ("sum", "v"),
                                  "mx": ("max", "v")}, n_salts=8).collect()}
    want = {r["k"]: (r["n"], r["total"], r["mx"]) for r in
            df.groupBy("k").agg(F.count(F.lit(1)).alias("n"),
                                F.sum("v").alias("total"),
                                F.max("v").alias("mx")).collect()}
    assert got == want
    import pytest
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_agg(df, ["k"], {"a": ("avg", "v")})


def test_multimodal_resize_and_frames_fake_plumbing(spark, db):
    from pyspark.sql import functions as F
    from tostore_spark.llmops import multimodal as MM
    docs = (db.df("documents").limit(10)
            .withColumn("blob", F.encode(F.col("text"), "utf-8")))
    r = MM.resize_images(docs, "blob", "doc_id", width=4, height=3,
                         deterministic_fake=True)
    rows = r.collect()
    assert len(rows) == 10
    assert all(x["width"] == 4 and x["height"] == 3 and x["n_bytes"] == 12
               for x in rows)
    # deterministic: same content -> same fake bytes
    again = {x["id"]: bytes(x["blob"]) for x in r.collect()}
    assert {x["id"]: bytes(x["blob"]) for x in rows} == again
    fr = MM.sample_frames(docs, "blob", "doc_id", every_n_ms=100,
                          deterministic_fake=True)
    f = fr.collect()
    assert len(f) > 10  # fan-out: multiple frame rows per doc
    assert all(x["ts_ms"] % 100 == 0 and len(bytes(x["blob"])) == 32 for x in f)


def test_repetition_stats_flags_boilerplate(spark):
    from tostore_spark.llmops.text import repetition_stats
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam ham"),
         (2, "the quick brown fox jumps over a lazy dog today")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["top_token_frac"] == 5 / 6
    assert out[1]["top_bigram_frac"] == 4 / 5   # "spam spam" x4 of 5 bigrams
    assert out[2]["top_token_frac"] == 1 / 10   # all tokens distinct


def test_minhash_index_position_shingles_match_distinct_shingles(
        spark, db, monkeypatch):
    """The band index from position-exploded shingles (repeats kept)
    equals the one from per-document distinct shingle arrays: repeats
    never change a minimum.  Texts: empty, null, shorter than k,
    repeated shingles, punctuation only, and the fixture documents."""
    from tostore_spark.llmops.text import norm_sql

    def distinct_shingle_rows(df, text_field, id_field, k):
        norm = norm_sql(f"`{text_field}`")
        sql = (f"flatten(transform(array({norm}), t -> array_distinct("
               f"transform(sequence(1, greatest(length(t) - {k - 1}, 1)),"
               f" i -> substring(t, i, {k})))))")
        return df.selectExpr(f"`{id_field}` AS id", f"explode({sql}) AS s")

    edge = spark.createDataFrame(
        [(1, ""), (2, None), (3, "abc"), (4, "aaaaaaaaaaaa"),
         (5, "abcabcabcabcabc"), (6, "!!! ,,, ..."), (7, "Ab-Ab ab ab AB"),
         (8, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    docs = db.df("documents").select("doc_id", "text")
    for corpus in (edge, docs.unionByName(edge.withColumn(
            "doc_id", F.col("doc_id") + 10**9))):
        new = D.minhash_band_index(corpus)
        with monkeypatch.context() as m:
            m.setattr(D, "_shingle_rows", distinct_shingle_rows)
            old = D.minhash_band_index(corpus)
        assert new.count() == old.count() > 0
        assert new.exceptAll(old).count() == 0
        assert old.exceptAll(new).count() == 0


def test_minhash_index_roundtrip_and_incremental(spark, db, tmp_path):
    from pyspark.sql import functions as F
    from tostore_spark.llmops.dedup import (minhash_band_index,
                                            minhash_lsh_pairs,
                                            minhash_lsh_pairs_incremental)
    docs = db.df("documents")
    # the persistable artifact: write the index, read it back, identical pairs
    idx = minhash_band_index(docs)
    path = str(tmp_path / "band_index")
    idx.write.parquet(path)
    stored = spark.read.parquet(path)
    direct = sorted((r["id_a"], r["id_b"]) for r in
                    minhash_lsh_pairs(docs).collect())
    reused = sorted((r["id_a"], r["id_b"]) for r in
                    minhash_lsh_pairs(docs, index=stored).collect())
    assert direct == reused
    # incremental = full pairs restricted to (new x corpus) + (new x new)
    cut = 25
    ci = minhash_band_index(docs.filter(F.col("doc_id") < cut))
    ni = minhash_band_index(docs.filter(F.col("doc_id") >= cut))
    inc = sorted((r["id_a"], r["id_b"]) for r in
                 minhash_lsh_pairs_incremental(ni, ci).collect())
    want = sorted(
        [(b, a) for a, b in direct if b >= cut > a] +      # cross: (new, old)
        [(a, b) for a, b in direct if a >= cut and b >= cut])
    assert inc == want


def test_simhash_frame_matches_column_expr(spark, db):
    """The map-reduce simhash_frame must equal the Column-expression
    simhash bit-for-bit at a shared width (independent implementations)."""
    from tostore_spark.llmops import dedup as D
    docs = db.df("documents").limit(50)
    frame = {r["id"]: r["simhash"] for r in
             D.simhash_frame(docs, bits=16).collect()}
    col = {r["doc_id"]: r["sh"] for r in
           docs.select("doc_id", D.simhash(F.col("text"), 16).alias("sh"))
               .collect()}
    assert frame == col and len(frame) == 50


def test_simhash_frame_64_tokenless_doc_is_zero(spark):
    from tostore_spark.llmops import dedup as D
    df = spark.createDataFrame([(1, "hello world"), (2, "!!!")],
                               ["doc_id", "text"])
    out = {r["id"]: r["simhash"] for r in D.simhash_frame(df).collect()}
    assert out[2] == 0 and out[1] != 0


def test_simhash_column_caps_at_62_bits(spark):
    from tostore_spark.llmops import dedup as D
    with pytest.raises(ValueError, match="simhash_frame"):
        D.simhash(F.col("text"), bits=64)


def test_planes_for_corpus_scales_with_size(spark):
    from tostore_spark.llmops.dedup import planes_for_corpus
    assert planes_for_corpus(500) == 8            # floor dominates small
    assert planes_for_corpus(10**6) == 12         # 2^12 buckets of ~256
    assert planes_for_corpus(10**12) == 32        # trillion-row corpus
    assert planes_for_corpus(0) == 8              # empty corpus safe


def test_lsh_policy_tables_scale_with_planes(spark):
    """(p, L) policy: p tracks the bucket bound, L tracks target recall —
    the single-table recall collapse (0.9^32 ≈ 3% at a trillion rows) is
    exactly what the multi-table dimension repairs."""
    import math
    from tostore_spark.llmops.dedup import lsh_policy

    # tiny corpus, very tight distance: one table already meets recall
    p, L = lsh_policy(500, max_cosine_distance=0.0005)
    assert (p, L) == (8, 1)
    # trillion-row corpus at cos-dist 0.05: 32 planes/table, banded wide
    p, L = lsh_policy(10**12, max_cosine_distance=0.05, target_recall=0.8)
    assert p == 32 and 1 < L <= 64
    r = 1.0 - math.acos(0.95) / math.pi
    assert 1.0 - (1.0 - r ** p) ** L >= 0.8   # policy meets its own target


def _planted_neardup_corpus(rng, n, n_pairs, dim, dist):
    """n unit vectors with n_pairs planted near-dup pairs at EXACT cosine
    distance ``dist`` (rotate by acos(1-dist) in a random orthogonal
    direction); the rest are random (cos-dist ~1 in expectation)."""
    import math

    import numpy as np

    c = 1.0 - dist
    s = math.sqrt(1.0 - c * c)
    rows, planted, vid = [], [], 0
    for _ in range(n_pairs):
        u = rng.standard_normal(dim)
        u /= np.linalg.norm(u)
        w = rng.standard_normal(dim)
        w -= w.dot(u) * u
        w /= np.linalg.norm(w)
        v = c * u + s * w
        rows.append((vid, [float(x) for x in u]))
        rows.append((vid + 1, [float(x) for x in v]))
        planted.append((vid, vid + 1))
        vid += 2
    while vid < n:
        u = rng.standard_normal(dim)
        u /= np.linalg.norm(u)
        rows.append((vid, [float(x) for x in u]))
        vid += 1
    return rows, planted


@pytest.mark.parametrize("n,target_bucket,n_pairs", [(2000, 64, 150),
                                                     (8000, 16, 250)])
def test_embedding_neardup_recall_pinned(spark, n, target_bucket, n_pairs):
    """Pair recall of the banded multi-table LSH block at cos-dist 0.045
    (just inside the 0.05 threshold) stays >= 0.8 at two corpus scales —
    the policy's recall contract, measured, not extrapolated.  Mirrors the
    IVF recall pin in test_vector_index.py."""
    import numpy as np
    from tostore_spark.llmops.dedup import embedding_neardup_pairs

    rng = np.random.default_rng(7 + n)
    rows, planted = _planted_neardup_corpus(rng, n, n_pairs, dim=16,
                                            dist=0.045)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = embedding_neardup_pairs(df, max_cosine_distance=0.05,
                                  target_bucket=target_bucket,
                                  target_recall=0.9)
    found = {(r["id_a"], r["id_b"]) for r in out.collect()}
    recall = len(found & set(planted)) / len(planted)
    assert recall >= 0.8, f"pair recall {recall} at n={n}"


def test_lsh_bucket_sizes_bounded_on_random_corpus(spark):
    """With auto planes, no sign bucket exceeds the target size on a
    seeded random corpus (the quadratic-bucket guard)."""
    import numpy as np
    from pyspark.sql import functions as F
    from tostore_spark.llmops.dedup import planes_for_corpus
    from tostore_spark.vector import lsh_bucket_column, random_hyperplanes
    rng = np.random.default_rng(11)
    n, dim, target = 2000, 16, 64
    rows = [(i, [float(x) for x in rng.standard_normal(dim)])
            for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    planes = random_hyperplanes(dim, planes_for_corpus(n, target))
    sizes = [r["c"] for r in
             df.select(lsh_bucket_column(F.col("embedding"), planes)
                       .alias("b"))
               .groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect()]
    # planes aren't orthogonal, so cells are uneven — but none may exceed
    # a small multiple of the target (the quadratic-bucket guard), and the
    # mean must sit at or below it
    assert max(sizes) <= 2 * target, max(sizes)
    assert n / len(sizes) <= target


def test_vocab_stats_counts(spark):
    from tostore_spark.llmops.text import vocab_stats
    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry")],
        ["doc_id", "text"])
    out = {r["token"]: (r["tf"], r["df"]) for r in vocab_stats(df).collect()}
    assert out == {"apple": (2, 1), "banana": (2, 2), "cherry": (1, 1)}
    filtered = {r["token"] for r in vocab_stats(df, min_df=2).collect()}
    assert filtered == {"banana"}


def test_vocab_coverage_unk_rate(spark):
    from tostore_spark.llmops.text import vocab_coverage
    train = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog sat"), (3, "the cat ran")],
        ["doc_id", "text"])
    ev = spark.createDataFrame(
        [(10, "the cat flew"), (11, "a dog sat")], ["doc_id", "text"])
    # vocab_size=2 -> {the(3), cat(2)}; sat(2) loses the 'cat' tie on
    # token order... cat < sat alphabetically, both tf=2: cat wins
    r = vocab_coverage(train, ev, vocab_size=2).collect()[0]
    # eval occurrences: the, cat, flew, a, dog, sat = 6; in-vocab: the, cat
    assert r.n_eval_tokens == 6
    assert r.n_oov_occurrences == 4 and r.n_oov_types == 4
    assert abs(r.coverage - 2 / 6) < 1e-12
    # full vocab covers everything that appeared in train
    r2 = vocab_coverage(train, train, vocab_size=100).collect()[0]
    assert r2.coverage == 1.0 and r2.n_oov_types == 0


def test_contamination_pairs_finds_overlap(spark):
    from tostore_spark.llmops.dedup import contamination_pairs
    shared = "alpha beta gamma delta epsilon zeta eta"
    train = spark.createDataFrame(
        [(1, shared + " tail words here"),
         (2, "totally different content with many words")],
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, shared + " other ending tokens")], ["doc_id", "text"])
    out = [(r["train_id"], r["bench_id"]) for r in
           contamination_pairs(train, bench, n=5, min_overlap=2).collect()]
    assert out == [(1, 100)]


def test_pii_scrub_counts_and_redacts(spark):
    from tostore_spark.llmops.text import pii_scrub
    df = spark.createDataFrame(
        [(1, "mail a.b@x.io or c@d.org, ip 10.0.0.1, acct 12345678 ok"),
         (2, "clean text with no pii at all")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_digit_runs"]) \
        == (2, 1, 1)
    assert out[1]["text_redacted"] == \
        "mail <EMAIL> or <EMAIL>, ip <IP>, acct <NUM> ok"
    assert out[2]["text_redacted"] == out[2]["text"]
    assert (out[2]["n_emails"], out[2]["n_ips"], out[2]["n_digit_runs"]) \
        == (0, 0, 0)


def test_stratified_take_exact_and_deterministic(spark, db):
    from tostore_spark.llmops import pipeline as P
    docs = db.df("documents")
    out = P.stratified_take(docs, k=10)
    sizes = {r["source"]: r["n"] for r in
             out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n == 10 for n in sizes.values()) and len(sizes) >= 2
    a = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in
               P.stratified_take(docs, k=10).select("doc_id").collect())
    assert a == b
    # k larger than a stratum returns the whole stratum, no padding
    tiny = docs.filter(F.col("doc_id") < 5)
    assert P.stratified_take(tiny, k=100).count() == 5


def test_contamination_max_gram_df_drops_boilerplate(spark):
    from tostore_spark.llmops.dedup import contamination_pairs
    boiler = "standard license header text common to every doc"
    real = "unique leaked benchmark passage present once only"
    train = spark.createDataFrame(
        [(i, boiler + f" body {i}") for i in range(20)]
        + [(99, boiler + " " + real)], ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(1000, boiler + " " + real + " trailing")], ["doc_id", "text"])
    # without the cap: every train doc pairs with the bench doc via the
    # boilerplate grams (disabled explicitly — the cap is ON by default)
    loose = contamination_pairs(train, bench, n=5, min_overlap=2,
                                max_gram_df=None)
    assert loose.count() == 21
    # with the cap: boilerplate grams (df=21) are dropped; only the
    # genuinely contaminated doc remains; the observation reports how
    # many grams were capped without an extra job
    from pyspark.sql import Observation
    obs = Observation("capped")
    tight = contamination_pairs(train, bench, n=5, min_overlap=2,
                                max_gram_df=5, observation=obs)
    assert [(r["train_id"], r["bench_id"]) for r in tight.collect()] \
        == [(99, 1000)]
    assert obs.get["n_capped_grams"] > 0


def test_contamination_default_cap_is_on(spark):
    """The boilerplate guard defaults ON (10_000) — a crawl-scale run must
    not need to remember the knob; sub-cap grams still pair normally."""
    import inspect

    from tostore_spark.llmops.dedup import (CONTAMINATION_MAX_GRAM_DF,
                                            contamination_pairs)
    sig = inspect.signature(contamination_pairs)
    assert sig.parameters["max_gram_df"].default == \
        CONTAMINATION_MAX_GRAM_DF == 10_000
    train = spark.createDataFrame([(1, "alpha beta gamma delta epsilon")],
                                  ["doc_id", "text"])
    bench = spark.createDataFrame([(2, "alpha beta gamma delta epsilon")],
                                  ["doc_id", "text"])
    assert contamination_pairs(train, bench, n=5, min_overlap=1).count() == 1


def test_dedup_clusters_connected_components(spark):
    """Transitive chains collapse into one cluster with the min id as the
    canonical label — pairwise keep-one would leave A/C duplicated."""
    from tostore_spark.llmops.dedup import dedup_clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["id_a", "id_b"])
    out = {r["id"]: (r["cluster_id"], r["cluster_size"])
           for r in dedup_clusters(pairs).collect()}
    assert out == {1: (1, 3), 2: (1, 3), 3: (1, 3),
                   10: (10, 2), 11: (10, 2),
                   20: (20, 3), 21: (20, 3), 22: (20, 3)}


def test_dedup_clusters_chain_converges_in_log_rounds(spark, monkeypatch):
    """A 40-node chain needs ~log2(40) pointer-jumping rounds, not 40:
    max_iterations=8 must fully converge (naive min-neighbor propagation
    would still be mid-chain).  Large mode: the label loop."""
    from tostore_spark.llmops.dedup import dedup_clusters
    monkeypatch.setattr(D, "SMALL_GRAPH_EDGES", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"])
    rows = dedup_clusters(pairs, max_iterations=8).collect()
    assert {r["cluster_id"] for r in rows} == {0}
    assert all(r["cluster_size"] == 41 for r in rows)


def test_dedup_clusters_raises_when_not_converged(spark, monkeypatch):
    """A long chain cannot settle in one round: max_iterations=1 must
    raise instead of returning partial labels.  Large mode: small mode's
    union-find is exact and has no rounds."""
    from tostore_spark.llmops.dedup import dedup_clusters
    monkeypatch.setattr(D, "SMALL_GRAPH_EDGES", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iterations=1)


def _cluster_modes(pairs, monkeypatch):
    """``dedup_clusters`` in small mode (driver union-find) and in large
    mode (the label loop, forced by a negative edge bound: at 0 an empty
    edge set still fits small mode)."""
    calls = []
    union_find = D._local_components
    with monkeypatch.context() as m:
        m.setattr(D, "_local_components",
                  lambda rows: calls.append(1) or union_find(rows))
        small = D.dedup_clusters(pairs)
        assert len(calls) == 1
        m.setattr(D, "SMALL_GRAPH_EDGES", -1)
        large = D.dedup_clusters(pairs)
        assert len(calls) == 1
    return small, large


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: tuple((v is None, v) for v in t))


def _clique(ids):
    return [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]


@pytest.mark.parametrize("rows,schema", [
    ([(i, i + 1) for i in range(40)], "id_a long, id_b long"),
    ([(0, i) for i in range(1, 30)], "id_a long, id_b long"),
    (_clique([3, 1, 4, 15]) + _clique([9, 2, 6]) + _clique([50, 51]),
     "id_a long, id_b long"),
    ([(1, 1), (2, 3), (3, 2), (2, 3), (4, 4), (4, 5), (5, 4)],
     "id_a int, id_b int"),
    ([("b", "a"), ("c", "b"), ("é", "z"), ("Z", "a"), ("aa", "a")],
     "id_a string, id_b string"),
    ([], "id_a long, id_b long"),
    ([(1, None), (None, 2), (3, 4), (None, None), (4, None)],
     "id_a long, id_b long"),
], ids=["chain40", "star", "cliques", "self_and_duplicate_pairs",
        "string_ids", "empty", "null_ids"])
def test_dedup_clusters_small_mode_matches_large_mode(spark, monkeypatch,
                                                      rows, schema):
    """A/B: driver union-find gives the label loop's rows, null ids
    included (the loop joins no pair through a null id and labels the
    null id null)."""
    small, large = _cluster_modes(spark.createDataFrame(rows, schema),
                                  monkeypatch)
    assert _sorted_rows(small) == _sorted_rows(large)
    assert small.exceptAll(large).count() == 0
    assert large.exceptAll(small).count() == 0
    assert [f.dataType for f in small.schema] == \
        [f.dataType for f in large.schema]


def test_dedup_clusters_small_mode_matches_large_mode_minhash(
        spark, db, monkeypatch):
    """A/B on the fixture documents' MinHash-LSH pairs."""
    pairs = D.minhash_lsh_pairs(db.df("documents"))
    assert pairs.count() > 0
    small, large = _cluster_modes(pairs, monkeypatch)
    assert _sorted_rows(small) == _sorted_rows(large)


def test_dedup_clusters_large_mode_computes_pairs_once(spark, monkeypatch):
    """Large mode reads the pairs through one pin: the probe and the loop
    share it, so the pair frame is evaluated once per row (counted by a
    Python UDF), not once per probe and once per edge direction."""
    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        seen.add(1)
        return x

    rows = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long").select(
        counted("id_a").alias("id_a"), "id_b")
    monkeypatch.setattr(D, "SMALL_GRAPH_EDGES", 0)
    out = D.dedup_clusters(pairs).collect()
    assert {r["cluster_id"] for r in out} == {0} and len(out) == 41
    assert seen.value == len(rows)


def test_dedup_apply_small_mode_broadcasts_unhinted(spark):
    """Small mode's clusters are a local relation the planner sizes, so
    ``dedup_apply``'s anti-join plans a broadcast with no hint."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (2, 5), (6, 7)], ["id_a", "id_b"])
    plan = D.dedup_apply(docs, pairs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_apply_keeps_one_per_cluster(spark):
    from tostore_spark.llmops.dedup import dedup_apply
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (2, 5), (6, 7)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"] for r in dedup_apply(docs, pairs).collect())
    assert kept == [0, 1, 3, 4, 6]


def test_dedup_clusters_empty_pairs(spark):
    from tostore_spark.llmops.dedup import dedup_clusters
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup_clusters(pairs).count() == 0


def test_semantic_dedup_keep_one_per_cluster(spark, db):
    """SemDeDup: within-cell cosine pairs -> components -> one canonical
    (min-id) survivor per cluster; everything not in a cluster kept."""
    emb = db.df("embeddings").select("vec_id", "embedding")
    cents = S.fixed_centroids(64, 8)
    pairs = D.semantic_dedup_pairs(emb, centroids=cents, max_distance=0.65)
    assert pairs.filter(F.col("distance") > 0.65).count() == 0
    assert pairs.filter(F.col("id_a") >= F.col("id_b")).count() == 0
    clusters = D.dedup_clusters(pairs)
    kept = D.semantic_dedup(emb, centroids=cents, max_distance=0.65)
    n_dropped = clusters.filter(F.col("id") != F.col("cluster_id")).count()
    assert kept.count() == emb.count() - n_dropped
    canon = {r["cluster_id"] for r in clusters.collect()}
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    assert canon <= kept_ids   # every cluster's canonical survives


def test_semantic_dedup_blocking_is_within_cell(spark, db):
    """The quadratic term is bounded per cell: every reported pair shares
    a cell, and a cross-cell near-dup is (by the SemDeDup contract) not
    reported."""
    emb = db.df("embeddings").select("vec_id", "embedding")
    cents = S.fixed_centroids(64, 8)
    indexed, _ = S.ivf_build(emb, centroids=cents)
    cell_of = {r["vec_id"]: r["cell_id"] for r in
               indexed.select("vec_id", "cell_id").collect()}
    pairs = D.semantic_dedup_pairs(emb, centroids=cents,
                                   max_distance=0.65).collect()
    assert pairs and all(cell_of[r["id_a"]] == cell_of[r["id_b"]]
                         for r in pairs)


def test_decontaminate_drops_exactly_contaminated(spark, db):
    docs = db.df("documents")
    train = docs.filter(F.col("doc_id") < 480)
    bench = docs.filter(F.col("doc_id") >= 480)
    bad = {r["train_id"] for r in
           D.contamination_pairs(train, bench, n=5, min_overlap=2)
           .select("train_id").distinct().collect()}
    kept = {r["doc_id"] for r in
            D.decontaminate(train, bench).select("doc_id").collect()}
    assert kept == {r["doc_id"] for r in
                    train.select("doc_id").collect()} - bad
    assert bad and bad.isdisjoint(kept)


def test_bm25_search_semantics(spark, db):
    """BM25: more matching terms -> higher score; docs with no query term
    never appear; idf weights rarer terms over common ones."""
    from tostore_spark.llmops.search import bm25_search
    sdf = spark.createDataFrame(
        [(1, "apple banana cherry"), (2, "apple apple apple"),
         (3, "banana only here"), (4, "nothing relevant at all"),
         (5, "apple banana apple banana")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r["score"] for r in
           bm25_search(sdf, "apple banana", k=10).collect()}
    assert 4 not in out                       # no query term -> absent
    assert out[5] > out[2]                    # both terms beat one repeated
    assert out[1] > out[3]                    # two terms beat one
    assert all(s > 0 for s in out.values())


def test_remove_repeated_spans(spark):
    """Boilerplate spans shared across docs are dropped from every doc;
    unique spans survive and rejoin in original order."""
    from tostore_spark.llmops.dedup import remove_repeated_spans
    boiler = "this content is licensed under the following terms"  # 8 words
    docs = spark.createDataFrame([
        (1, boiler + " alpha beta gamma delta one two three four"),
        (2, boiler + " epsilon zeta eta theta five six seven eight"),
        (3, "totally unique words in this document only here"),
    ], ["doc_id", "text"])
    out = {r["id"]: r for r in
           remove_repeated_spans(docs, k=8, max_doc_freq=1).collect()}
    # docs 1 and 2 share the boilerplate span; each had 2 spans, lost 1
    assert out[1]["n_spans"] == 2 and out[1]["n_dropped"] == 1
    assert out[2]["n_dropped"] == 1
    assert out[1]["clean_text"] == "alpha beta gamma delta one two three four"
    assert out[2]["clean_text"] == "epsilon zeta eta theta five six seven eight"
    # doc 3 untouched
    assert out[3]["n_dropped"] == 0
    assert out[3]["clean_text"] == "totally unique words in this document only here"
    # order preservation across multiple surviving spans
    long_doc = spark.createDataFrame(
        [(9, " ".join(f"w{i}" for i in range(24)))], ["doc_id", "text"])
    r = remove_repeated_spans(long_doc, k=8, max_doc_freq=1).collect()[0]
    assert r["clean_text"] == " ".join(f"w{i}" for i in range(24))
    assert r["n_spans"] == 3 and r["n_dropped"] == 0


def test_span_freq_index_reuse_matches_direct(spark):
    """Indexed path == direct path on the same corpus, and a NEW batch
    cleans against the stored index without touching the corpus."""
    from tostore_spark.llmops.dedup import (remove_repeated_spans,
                                            remove_repeated_spans_with_index,
                                            span_freq_index)
    boiler = "this content is licensed under the following terms"  # 8 words
    docs = spark.createDataFrame([
        (1, boiler + " alpha beta gamma delta one two three four"),
        (2, boiler + " epsilon zeta eta theta five six seven eight"),
    ], ["doc_id", "text"])
    idx = span_freq_index(docs, k=8)
    direct = {(r["id"], r["clean_text"], r["n_spans"], r["n_dropped"])
              for r in remove_repeated_spans(docs, k=8).collect()}
    indexed = {(r["id"], r["clean_text"], r["n_spans"], r["n_dropped"])
               for r in remove_repeated_spans_with_index(docs, idx, k=8)
               .collect()}
    assert direct == indexed
    # new batch: the boilerplate span is known-repeated in the index;
    # unknown spans default to df=0 and survive
    batch = spark.createDataFrame(
        [(10, boiler + " brand new words never seen before today")],
        ["doc_id", "text"])
    out = remove_repeated_spans_with_index(batch, idx, k=8).collect()[0]
    assert out["n_dropped"] == 1
    assert out["clean_text"] == "brand new words never seen before today"


def test_shuffle_corpus_deterministic_partitioned(spark, db):
    """Training-order shuffle: deterministic in (seed, ids), positions
    contiguous per shard, and the only window is shard-partitioned."""
    import re
    from tostore_spark.llmops.pipeline import shuffle_corpus
    docs = db.df("documents")
    a = {(r["doc_id"], r["shard"], r["shard_pos"])
         for r in shuffle_corpus(docs, n_shards=4).collect()}
    b = {(r["doc_id"], r["shard"], r["shard_pos"])
         for r in shuffle_corpus(docs, n_shards=4).collect()}
    assert a == b and len(a) == docs.count()
    # different seed reshuffles
    c = {(r["doc_id"], r["shard"], r["shard_pos"])
         for r in shuffle_corpus(docs, n_shards=4, seed=7).collect()}
    assert c != a
    # positions are 1..n per shard (contiguous)
    out = shuffle_corpus(docs, n_shards=4)
    per = out.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"), F.max("shard_pos").alias("mx"),
        F.min("shard_pos").alias("mn")).collect()
    assert all(r["mn"] == 1 and r["mx"] == r["n"] for r in per)
    # plan: every window partitioned by shard, never global
    plan = out._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "shard" in m.group(1), f"unpartitioned window: {m.group(0)}"


def test_remove_repeated_spans_differential(spark):
    """Differential test: the distributed plan equals a pure-Python
    reference on a seeded random corpus (60 docs, small vocab so span
    collisions actually occur)."""
    import random
    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(12)]
    boiler = " ".join(rng.choice(vocab) for _ in range(8))
    rows = []
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
        text = " ".join(words)
        if i % 3 == 0:   # a third of docs share injected boilerplate
            text = boiler + (" " + text if text else "")
        rows.append((i, text))
    k, cap = 4, 1

    def ref(rows):
        spans = {}
        for i, text in rows:
            ws = text.split(" ")
            n = max(-(-len(ws) // k), 1)
            for p in range(n):
                s = " ".join(ws[p * k:(p + 1) * k])
                spans.setdefault(s, set()).add(i)
        out = {}
        for i, text in rows:
            ws = text.split(" ")
            n = max(-(-len(ws) // k), 1)
            kept, dropped = [], 0
            for p in range(n):
                s = " ".join(ws[p * k:(p + 1) * k])
                if len(spans[s]) <= cap:
                    kept.append(s)
                else:
                    dropped += 1
            out[i] = (" ".join(kept), n, dropped)
        return out

    from tostore_spark.llmops.dedup import remove_repeated_spans
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["id"]: (r["clean_text"], r["n_spans"], r["n_dropped"])
           for r in remove_repeated_spans(df, k=k, max_doc_freq=cap)
           .collect()}
    assert got == ref(rows)


def test_lm_bits_per_token_semantics(spark):
    """Unigram LM quality signal: documents made of corpus-frequent
    tokens score fewer bits/token than documents of rare tokens; OOV
    scoring uses the smoothed floor (no nulls, no crash)."""
    import math as m
    from tostore_spark.llmops.text import lm_bits_per_token, train_unigram_lm
    docs = spark.createDataFrame(
        [(1, "common common common common"),
         (2, "common common rare1 rare2"),
         (3, "rare3 rare4 rare5 rare6")],
        ["doc_id", "text"])
    lm = train_unigram_lm(docs, add_k=0.5)
    out = {r["id"]: r for r in lm_bits_per_token(docs, lm).collect()}
    assert out[1]["bits_per_token"] < out[2]["bits_per_token"] \
        < out[3]["bits_per_token"]
    assert all(out[i]["n_tokens"] == 4 for i in (1, 2, 3))
    # exact check for doc 1: T=12 tokens, V=7 vocab, p(common)=(6+.5)/(12+3.5)
    want = round(-m.log2(6.5 / 15.5), 6)
    assert out[1]["bits_per_token"] == pytest.approx(want, abs=1e-6)
    # scoring a NEW doc with only-OOV tokens works via the smoothed floor
    new = spark.createDataFrame([(9, "zzz yyy")], ["doc_id", "text"])
    oov = lm_bits_per_token(new, lm).collect()[0]
    assert oov["bits_per_token"] == pytest.approx(
        round(-m.log2(0.5 / 15.5), 6), abs=1e-6)


def test_perplexity_filter_drops_surprising(spark):
    from tostore_spark.llmops.text import perplexity_filter, train_unigram_lm
    rows = [(i, "common words common words") for i in range(9)]
    rows.append((99, "qqq zzz xxx yyy"))    # the one outlier doc
    rows.append((100, ""))                  # zero tokens: kept, null score
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    lm = train_unigram_lm(docs)
    out = perplexity_filter(docs, lm, drop_pct=0.1)
    kept = {r["doc_id"]: r["bits_per_token"] for r in out.collect()}
    assert 99 not in kept                   # outlier dropped
    assert set(range(9)) <= set(kept)       # normal docs kept, scored
    assert all(kept[i] is not None for i in range(9))
    assert 100 in kept and kept[100] is None   # no-signal doc kept


def test_quality_classifier_trains_and_separates(spark):
    """Spark ML logistic regression over the deterministic feature set:
    training is reproducible (same data -> same model to 6dp) and the
    learned filter separates clean prose from punctuation/garbage spam
    on held-out documents, scored map-side (no model object in the
    plan)."""
    from tostore_spark.llmops import classifier as C
    good = [f"the quick brown fox number {i} jumps over the lazy dog and "
            "it is a fine day in the park with friends" for i in range(30)]
    bad = [("!!! ??? *** " * 4) + f"@@@ ###{i}" for i in range(30)]
    labeled = spark.createDataFrame(
        [(i, t, 1.0) for i, t in enumerate(good)]
        + [(100 + i, t, 0.0) for i, t in enumerate(bad)],
        ["doc_id", "text", "label"])
    w1, b1 = C.train_quality_classifier(labeled)
    w2, b2 = C.train_quality_classifier(labeled)
    assert [round(x, 6) for x in w1] == [round(x, 6) for x in w2]
    assert round(b1, 6) == round(b2, 6)
    held = spark.createDataFrame(
        [(1, "a calm clear morning walk by the river with the birds"),
         (2, "%%% !!! ??? ::: ;;; ((( )))")],
        ["doc_id", "text"])
    kept = {r["doc_id"]
            for r in C.quality_classifier_filter(held, w1, b1).collect()}
    assert kept == {1}
    scored = {r["doc_id"]: r["clf_score"]
              for r in C.score_quality(held, w1, b1).collect()}
    assert scored[1] > 0.5 > scored[2]
    # hash-bin features partition the tokens (they sum to ~1)
    f = C.clf_features(held).filter(F.col("doc_id") == 1).collect()[0]
    assert sum(f[f"f_h{j}"] for j in range(4)) == pytest.approx(1.0)
    with pytest.raises(ValueError, match="threshold"):
        C.quality_classifier_filter(held, w1, b1, threshold=1.5)
    with pytest.raises(ValueError, match="weights"):
        C.score_quality(held, [1.0], 0.0)


def _ref_bpe(word_freqs, num_merges, min_count=2):
    """Independent pure-Python BPE (Sennrich-style): the ground truth the
    distributed trainer must reproduce merge-for-merge."""
    syms = {w: list(w) for w in word_freqs}
    merges = []
    for rank in range(num_merges):
        counts = {}
        for w, f in word_freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (a, b), n = min(counts.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if n < min_count:
            break
        merges.append((rank, a, b, n))
        for w, s in syms.items():
            out = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out
    return merges, syms


def test_bpe_training_matches_python_reference(spark):
    """train_bpe reproduces the reference implementation exactly: same
    merges in the same order with the same counts, and the same final
    symbol sequence for every word (including overlap handling and the
    deterministic tie-break)."""
    from tostore_spark.llmops import tokenizer as TK
    texts = ["the cattle battle rattled the little cat",
             "the cat sat on the cattle mat",
             "little battles settle little cattle",
             "aaa aaaa the the the"]          # aaa: overlap-greedy case
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    wf = {}
    for t in texts:
        for w in t.split():
            wf[w] = wf.get(w, 0) + 1
    ref_merges, ref_syms = _ref_bpe(wf, num_merges=12)
    model = TK.train_bpe(docs, num_merges=12)
    assert model.merges == ref_merges
    got_syms = {r["word"]: list(r["sym"])
                for r in model.word_tokens.collect()}
    assert got_syms == ref_syms
    # determinism: a second training run is identical
    assert TK.train_bpe(docs, num_merges=12).merges == ref_merges


def test_bpe_batched_merges_match_serial(spark):
    """batch_merges=B must reproduce the serial greedy merge table when
    the batch's pairs are unambiguous (distinct counts, symbol-disjoint)
    — while spending ~1/B of the scheduler rounds.  Overlapping
    candidates are deferred, not mis-merged."""
    from tostore_spark.llmops import tokenizer as TK

    # 4 symbol-disjoint two-char words with strictly decreasing counts:
    # one pair each, merges create no new pairs -> batch == serial exactly
    data = [(n, w) for n, w in enumerate(
        ["ab"] * 40 + ["cd"] * 30 + ["ef"] * 20 + ["gh"] * 10)]
    docs = spark.createDataFrame(data, ["doc_id", "text"])
    serial = TK.train_bpe(docs, num_merges=4, batch_merges=1)

    calls = {"n": 0}
    orig = TK.pair_counts

    def spy(sym_df):
        calls["n"] += 1
        return orig(sym_df)

    TK.pair_counts = spy
    try:
        batched = TK.train_bpe(docs, num_merges=4, batch_merges=4)
    finally:
        TK.pair_counts = orig
    assert batched.merges == serial.merges == [
        (0, "a", "b", 40), (1, "c", "d", 30),
        (2, "e", "f", 20), (3, "g", "h", 10)]
    # all 4 merges in ONE round (+1 final empty-check round at most)
    assert calls["n"] <= 2

    # overlap deferral: (a,b) and (b,c) share 'b' -> the batch takes
    # (a,b) only and (b,c) lands in the NEXT round; table == serial's
    data2 = [(n, w) for n, w in enumerate(["ab"] * 40 + ["bc"] * 39)]
    docs2 = spark.createDataFrame(data2, ["doc_id", "text"])
    s2 = TK.train_bpe(docs2, num_merges=2, batch_merges=1)
    b2 = TK.train_bpe(docs2, num_merges=2, batch_merges=2)
    assert b2.merges == s2.merges == [(0, "a", "b", 40), (1, "b", "c", 39)]


def test_bpe_tokenize_join_form(spark):
    """Encoding is the join form (word_tokens equi-join, no per-merge
    expression): known words take their trained symbols, OOV words fall
    back to characters, empty docs get an empty token array."""
    from tostore_spark.llmops import tokenizer as TK
    train = spark.createDataFrame(
        [(1, "banana bandana banana"), (2, "ban ban banana")],
        ["doc_id", "text"])
    model = TK.train_bpe(train, num_merges=6)
    enc = spark.createDataFrame(
        [(10, "banana zebra"), (11, "")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           TK.tokenize_bpe(enc, model).collect()}
    ws = {r["word"]: list(r["sym"]) for r in model.word_tokens.collect()}
    assert list(out[10]["bpe_tokens"]) == ws["banana"] + list("zebra")
    assert out[10]["n_bpe_tokens"] == len(ws["banana"]) + 5
    assert list(out[11]["bpe_tokens"]) == [] and out[11]["n_bpe_tokens"] == 0


def test_bigram_rows_transitions(spark):
    """Each document becomes its bigram transition stream, first token
    conditioned on the BOS sentinel; empty docs emit nothing."""
    from tostore_spark.llmops.lm import BOS, bigram_rows
    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "hi"), (3, "")], ["doc_id", "text"])
    got = {(r["id"], r["prev"], r["token"])
           for r in bigram_rows(docs).collect()}
    assert got == {(1, BOS, "the"), (1, "the", "cat"), (1, "cat", "sat"),
                   (2, BOS, "hi")}


def test_bigram_lm_catches_scrambled_word_order(spark):
    """The bigram signal the unigram LM cannot see: a document with the
    corpus's exact token DISTRIBUTION but shuffled order scores high
    bits under the bigram model (improbable transitions) while the
    unigram model scores it identical to the normal docs."""
    from tostore_spark.llmops import lm as LM
    from tostore_spark.llmops.text import lm_bits_per_token, train_unigram_lm
    rows = [(i, "the cat sat on the mat") for i in range(12)]
    rows.append((99, "mat the on sat cat the"))   # same tokens, shuffled
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uni = train_unigram_lm(docs)
    ub = {r["id"]: r["bits_per_token"]
          for r in lm_bits_per_token(docs, uni).collect()}
    assert ub[99] == ub[0]                        # unigram is blind to order
    model = LM.train_ngram_lm(docs, n=2)
    bb = {r["id"]: r["bits_per_token"]
          for r in LM.ngram_bits_per_token(docs, model).collect()}
    assert bb[99] > bb[0]                         # bigram sees it
    out = LM.ngram_perplexity_filter(docs, model, drop_pct=0.05)
    kept = {r["doc_id"]: r["bits_per_token"] for r in out.collect()}
    assert 99 not in kept
    assert set(range(12)) <= set(kept)


def test_bigram_filter_keeps_null_scored_docs(spark):
    from tostore_spark.llmops import lm as LM
    rows = [(i, "steady words flow here") for i in range(5)]
    rows.append((100, ""))                        # zero tokens
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    model = LM.train_ngram_lm(docs)
    out = LM.ngram_perplexity_filter(docs, model, drop_pct=0.1)
    kept = {r["doc_id"]: r["bits_per_token"] for r in out.collect()}
    assert 100 in kept and kept[100] is None
    with pytest.raises(ValueError, match="n=2"):
        LM.train_ngram_lm(docs, n=3)


def test_curate_corpus_end_to_end(spark, db):
    """The full curation recipe composes: output is deduped (no repeated
    content hash), capped per source, shuffled deterministically, and
    each stage only ever shrinks the corpus."""
    from tostore_spark.llmops.pipeline import curate_corpus
    docs = db.df("documents")
    bench = docs.filter(F.col("doc_id") >= 480)
    train = docs.filter(F.col("doc_id") < 480)
    out = curate_corpus(train, bench, max_per_source=100,
                        n_shards=4, drop_quality_pct=0.1,
                        drop_perplexity_pct=0.1)
    rows = out.collect()
    assert 0 < len(rows) < train.count()
    # no exact duplicates survive
    n_hashes = out.select(F.md5("text")).distinct().count()
    assert n_hashes == len(rows)
    # per-source cap respected
    per_src = out.groupBy("source").count().collect()
    assert all(r["count"] <= 100 for r in per_src)
    # shuffle columns present and contiguous per shard
    per = out.groupBy("shard").agg(
        F.max("shard_pos").alias("mx"), F.count(F.lit(1)).alias("n")).collect()
    assert all(r["mx"] == r["n"] for r in per)
    # deterministic: same inputs -> same output set
    out2 = curate_corpus(train, bench, max_per_source=100,
                         n_shards=4, drop_quality_pct=0.1,
                         drop_perplexity_pct=0.1)
    a = {(r["doc_id"], r["shard"], r["shard_pos"]) for r in rows}
    b = {(r["doc_id"], r["shard"], r["shard_pos"]) for r in out2.collect()}
    assert a == b


def test_curate_corpus_holdout_split(spark, db):
    """holdout= adds a split label LAST (every upstream filter treated
    train and holdout rows identically) without changing the survivor
    set, and the labels follow the documented md5 bucket rule."""
    from tostore_spark.llmops.pipeline import curate_corpus, hash_fraction

    train = db.df("documents").filter(F.col("doc_id") < 480)
    base = curate_corpus(train, n_shards=4, drop_quality_pct=0.1,
                         drop_perplexity_pct=0.0, minhash_dedup=False)
    with_split = curate_corpus(train, n_shards=4, drop_quality_pct=0.1,
                               drop_perplexity_pct=0.0,
                               minhash_dedup=False,
                               holdout={"train": 0.9, "test": 0.1})
    assert "split" in with_split.columns
    a = sorted(r["doc_id"] for r in base.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in with_split.select("doc_id").collect())
    assert a == b  # the split never drops or adds rows
    bad = with_split.withColumn("frac", hash_fraction(F.col("doc_id"))) \
        .filter(((F.col("frac") < 9000) & (F.col("split") != "train")) |
                ((F.col("frac") >= 9000) & (F.col("split") != "test")))
    assert bad.count() == 0


def test_curate_corpus_stage_report(spark, db):
    """report={} fills per-stage surviving counts off the barrier
    Observations — no extra jobs, counts shrink monotonically through
    the funnel."""
    from tostore_spark.llmops.pipeline import curate_corpus

    train = db.df("documents").filter(F.col("doc_id") < 480)
    report = {}
    out = curate_corpus(train, n_shards=4, drop_quality_pct=0.2,
                        drop_perplexity_pct=0.1, report=report)
    assert list(report) == ["s1_exact_dedup", "s2_neardup",
                            "s4_quality", "s5_perplexity"]
    counts = list(report.values())
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[0] <= train.count()
    assert out.count() == counts[-1]  # final frame = last stage survivors


def test_curate_corpus_stage_barriers_bound_rescans(spark, db):
    """The materialization contract: with barriers (default) every stage
    reads its input once — the final plan contains ZERO parquet scans of
    the corpus (only the last checkpoint); with materialize=None the
    branching stages (percentile threshold+filter, LM train+score+cut)
    multiply the corpus scan into the final plan."""
    import contextlib
    import io

    from tostore_spark.llmops.pipeline import curate_corpus

    def n_parquet_scans(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue().count("Scan parquet")

    train = db.df("documents").filter(F.col("doc_id") < 480)
    barriered = curate_corpus(train, n_shards=4, drop_quality_pct=0.1,
                              drop_perplexity_pct=0.1)
    assert n_parquet_scans(barriered) == 0
    raw_dag = curate_corpus(train, n_shards=4, drop_quality_pct=0.1,
                            drop_perplexity_pct=0.1, materialize=None)
    assert n_parquet_scans(raw_dag) >= 4   # the multiplicative re-read
    # same result either way (barriers change cost, never semantics)
    key = lambda r: (r["doc_id"], r["shard"], r["shard_pos"])  # noqa: E731
    assert sorted(map(key, barriered.collect())) == \
        sorted(map(key, raw_dag.collect()))


def test_curate_corpus_warehouse_materialization(spark, db, tmp_path):
    """materialize='warehouse': stages land as inspectable parquet under
    warehouse_dir (the restartable long-job form) with the same result."""
    from tostore_spark.llmops.pipeline import curate_corpus
    train = db.df("documents").filter(F.col("doc_id") < 480)
    wdir = str(tmp_path / "curate")
    out = curate_corpus(train, n_shards=4, drop_quality_pct=0.1,
                        drop_perplexity_pct=0.1,
                        materialize="warehouse", warehouse_dir=wdir)
    rows = {(r["doc_id"], r["shard"], r["shard_pos"])
            for r in out.collect()}
    import os
    staged = sorted(os.listdir(wdir))
    assert staged == ["s1_exact_dedup", "s2_neardup", "s4_quality",
                      "s5_perplexity"]
    ref = curate_corpus(train, n_shards=4, drop_quality_pct=0.1,
                        drop_perplexity_pct=0.1)
    assert rows == {(r["doc_id"], r["shard"], r["shard_pos"])
                    for r in ref.collect()}
    with pytest.raises(ValueError, match="warehouse_dir"):
        curate_corpus(train, materialize="warehouse")


def test_curate_corpus_derives_mix_cost_field(spark):
    """mix stage: a frame WITHOUT the cost column works — n_chars is
    derived from the text (the documented input-contract fix)."""
    from tostore_spark.llmops.pipeline import curate_corpus
    sdf = spark.createDataFrame(
        [(i, f"src{i % 2}", "word " * (10 + i)) for i in range(40)],
        ["doc_id", "source", "text"])
    out = curate_corpus(sdf, minhash_dedup=False, drop_quality_pct=0.0,
                        drop_perplexity_pct=0.0, n_shards=2,
                        mix_weights={"src0": 1.0, "src1": 1.0},
                        mix_budget=2000)
    assert "n_chars" in out.columns
    assert 0 < out.count() <= 40


def test_containment_catches_doc_in_doc(spark):
    """A short doc fully quoted inside a much larger one: containment
    fires (1.0) while symmetric Jaccard stays far below threshold."""
    small = "the quick brown fox jumps over the lazy dog"
    big = small + " " + " ".join(f"filler{i} pad{i} extra{i}"
                                 for i in range(30))
    sdf = spark.createDataFrame(
        [(1, small), (2, big)], ["doc_id", "text"])
    cont = D.containment_pairs(sdf, n=3, threshold=0.8,
                               bucket_field=F.lit(0)).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r["id_small"], r["id_big"]) == (1, 2)
    assert r["containment"] == pytest.approx(1.0)
    jac = D.ngram_jaccard_pairs(sdf, n=3, threshold=0.5,
                                bucket_field=F.lit(0)).collect()
    assert jac == []   # Jaccard diluted by the big doc's size


def test_winnowing_partial_overlap(spark):
    """The winnowing guarantee: documents sharing a long-enough token run
    share at least one fingerprint; disjoint docs share none; the hot-
    fingerprint cap drops corpus-wide boilerplate from the join."""
    shared = " ".join(f"s{i}" for i in range(12))   # 12-token shared run
    docs = spark.createDataFrame([
        (1, "aaa bbb ccc " + shared + " ddd eee"),
        (2, "xxx yyy " + shared + " zzz www qqq"),
        (3, "totally different words with no run at all here friend"),
    ], ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"] for r in
             D.winnow_overlap_pairs(docs, k=3, window=4,
                                    min_shared=1).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # a fingerprint present in every doc (boilerplate) is capped out
    boiler_docs = spark.createDataFrame(
        [(i, shared) for i in range(10)], ["doc_id", "text"])
    capped = D.winnow_overlap_pairs(boiler_docs, k=3, window=4,
                                    min_shared=1, max_fp_df=5).collect()
    assert capped == []


def test_normalize_unicode_nfc_matches_duck(spark, duck):
    from tostore_spark.llmops.text import normalize_unicode

    # decomposed e + combining acute vs precomposed é; NFKC ligature
    rows = [(1, "café"), (2, "café"), (3, "ﬁle"),
            (4, None), (5, "plain ascii")]
    df = spark.createDataFrame(rows, "id int, t string")
    out = {r.id: r.n for r in df.select(
        "id", normalize_unicode(F.col("t")).alias("n")).collect()}
    assert out[1] == out[2] == "café"   # NFC unifies the encodings
    assert out[3] == "ﬁle"              # NFC keeps the ligature
    assert out[4] is None and out[5] == "plain ascii"
    # DuckDB's nfc_normalize agrees on the NFC form
    want = duck.execute(
        "SELECT nfc_normalize('cafe' || chr(769))").fetchone()[0]
    assert out[1] == want

    nfkc = {r.id: r.n for r in df.select(
        "id", normalize_unicode(F.col("t"), form="NFKC").alias("n"))
        .collect()}
    assert nfkc[3] == "file"                 # NFKC folds the ligature

    import pytest as _pytest
    with _pytest.raises(ValueError):
        normalize_unicode(F.col("t"), form="XYZ")


def test_pca_fit_project(spark, db):
    """PCA over the embeddings: components orthonormal and deterministic,
    projection is map-side, and the top-k subspace captures more
    variance than the first k raw coordinates."""
    import numpy as np

    from tostore_spark.llmops.linalg import (
        embedding_covariance, pca_components, pca_project,
    )

    emb = db.df("embeddings")
    comps = pca_components(emb, k=4, dims=16)
    again = pca_components(emb, k=4, dims=16)
    assert comps == again                      # deterministic incl. sign
    C = np.array(comps)
    assert np.allclose(C @ C.T, np.eye(4), atol=1e-9)   # orthonormal
    out = pca_project(emb, comps).select("pca").collect()
    P = np.array([r["pca"] for r in out])
    # variance captured by PCA >= variance of the first 4 raw dims
    raw = np.array([r["embedding"][:16] for r in emb.select("embedding").collect()])
    var_pca = P.var(axis=0).sum()
    var_raw4 = raw.var(axis=0)[:4].sum()
    assert var_pca >= var_raw4 - 1e-9
    # covariance frame is the exact moment source
    rows = embedding_covariance(emb, dims=4).collect()
    got = {(r.i, r.j): r.cov for r in rows}
    r6 = np.round(raw[:, :4].astype(np.float64), 6)
    ref = np.cov(r6, rowvar=False, bias=True)
    for (i, j), c in got.items():
        assert abs(c - ref[i, j]) < 1e-9, (i, j)


def test_paragraph_dedup_first_occurrence_wins(spark):
    from tostore_spark.llmops.paragraphs import paragraph_dedup
    docs = [
        (1, "alpha beta\n\nshared boiler plate\n\nunique one"),
        (2, "shared boiler plate\n\nsecond doc body"),
        (3, "shared boiler plate"),          # fully boilerplate -> dropped
        (4, "alpha beta\n\nfresh tail"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    # doc 1 is the first occurrence of both of its repeated paragraphs
    assert out[1].text_clean == "alpha beta\n\nshared boiler plate\n\nunique one"
    assert out[1].n_para_kept == 3 and out[1].n_para_total == 3
    # doc 2 loses the boilerplate, keeps its body, order preserved
    assert out[2].text_clean == "second doc body"
    assert (out[2].n_para_kept, out[2].n_para_total) == (1, 2)
    # doc 3 became empty and is dropped by default
    assert 3 not in out
    # doc 4 loses 'alpha beta' (doc 1 owns it)
    assert out[4].text_clean == "fresh tail"
    # drop_empty=False keeps the hollow doc with empty text
    kept = {r.doc_id: r for r in
            paragraph_dedup(df, drop_empty=False).collect()}
    assert kept[3].text_clean == "" and kept[3].n_para_kept == 0


def test_paragraph_dedup_windows_partitioned(spark):
    import re
    from tostore_spark.llmops.paragraphs import paragraph_dedup
    df = spark.createDataFrame([(1, "a\n\nb")], ["doc_id", "text"])
    plan = (paragraph_dedup(df)
            ._jdf.queryExecution().executedPlan().toString())
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert m.group(1).startswith("__h#"), f"unpartitioned: {m.group(0)}"


def test_ppl_buckets_per_group_terciles(spark):
    from tostore_spark.llmops.lm import ppl_buckets
    # two groups with disjoint score ranges: per-group cuts must differ
    rows = ([("en", i, float(i)) for i in range(1, 10)]
            + [("de", 100 + i, float(100 + i)) for i in range(1, 10)]
            + [("en", 99, None)])          # unscored doc -> null bucket
    df = spark.createDataFrame(rows, ["lang", "id", "bits_per_token"])
    out = {r.id: r.ppl_bucket for r in ppl_buckets(df, by="lang").collect()}
    # en terciles over 1..9: head <= 3.667, middle <= 6.333
    assert out[1] == "head" and out[3] == "head"
    assert out[4] == "middle" and out[6] == "middle"
    assert out[7] == "tail" and out[9] == "tail"
    # de has the same shape shifted by 100 - per-group, not global
    assert out[101] == "head" and out[109] == "tail"
    assert out[99] is None
    # global (by=None): terciles span both groups — low en ids head,
    # high en ids pushed to middle, top de ids tail
    g = {r.id: r.ppl_bucket
         for r in ppl_buckets(df, by=None).collect()}
    assert g[1] == "head" and g[6] == "head"
    assert g[8] == "middle" and g[109] == "tail"
    import pytest as _pt
    with _pt.raises(ValueError):
        ppl_buckets(df, cuts=(0.5,), labels=("a", "b", "c"))
    with _pt.raises(ValueError):
        ppl_buckets(df, cuts=(0.7, 0.3), labels=("a", "b", "c"))
    # exact=False: sketch-tier grouped thresholds — identical labels on
    # this small, well-separated corpus (GK at n<=9 is exact), and the
    # plan carries no per-group sort window
    a = {r.id: r.ppl_bucket
         for r in ppl_buckets(df, by="lang", exact=False).collect()}
    assert {k: v for k, v in a.items() if k != 99} == \
           {k: v for k, v in out.items() if k != 99}
    assert a[99] is None


def test_dsir_prefers_target_like_docs(spark):
    from pyspark.sql import functions as F
    from tostore_spark.llmops import dsir
    # raw corpus: half "code-like", half "prose-like"; target is prose
    code = [(i, "def class import return lambda yield async await")
            for i in range(20)]
    prose = [(100 + i, "the quick brown fox jumps over the lazy dog")
             for i in range(20)]
    raw = spark.createDataFrame(code + prose, ["doc_id", "text"])
    target = spark.createDataFrame(
        [(1000 + i, "a quick brown dog and the lazy fox") for i in range(10)],
        ["doc_id", "text"])
    ratio = dsir.dsir_ratio_table(raw, target, n_buckets=512)
    w = dsir.dsir_weights(raw, ratio, n_buckets=512)
    m = {r["doc_id"]: r["mean_log2_ratio"] for r in
         raw.select("doc_id").join(
             w.withColumnRenamed("id", "doc_id"), "doc_id").collect()}
    prose_scores = [m[100 + i] for i in range(20)]
    code_scores = [m[i] for i in range(20)]
    assert min(prose_scores) > max(code_scores)
    # resample keeps prose preferentially
    kept = dsir.dsir_resample(raw, target, scale=1.0, n_buckets=512)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    n_prose = sum(1 for i in kept_ids if i >= 100)
    n_code = len(kept_ids) - n_prose
    assert n_prose > n_code
    # determinism: same rows on re-run
    again = {r.doc_id for r in
             dsir.dsir_resample(raw, target, scale=1.0, n_buckets=512)
                 .select("doc_id").collect()}
    assert again == kept_ids


def test_dsir_unseen_feature_floor(spark):
    from tostore_spark.llmops import dsir
    raw = spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"])
    target = spark.createDataFrame([(2, "alpha gamma")], ["doc_id", "text"])
    ratio = dsir.dsir_ratio_table(raw, target, n_buckets=64)
    # score a NEW batch containing a token neither corpus saw
    new = spark.createDataFrame([(9, "zzzz_unseen_token")], ["doc_id", "text"])
    out = dsir.dsir_weights(new, ratio, n_buckets=64).collect()
    assert len(out) == 1 and out[0]["mean_log2_ratio"] is not None


def test_curate_corpus_paragraph_and_dsir_stages(spark):
    from pyspark.sql import functions as F
    from tostore_spark.llmops.pipeline import curate_corpus
    boiler = "shared footer text here"
    docs = spark.createDataFrame(
        [(i, f"unique body number {i} with words\n\n{boiler}",
          "en", "src0", 50) for i in range(30)]
        + [(100 + i, "the quick brown fox body\n\n" + boiler,
            "en", "src1", 50) for i in range(10)],
        ["doc_id", "text", "lang", "source", "n_chars"])
    target = spark.createDataFrame(
        [(1000, "quick brown fox and lazy dog", "en", "t", 30)],
        ["doc_id", "text", "lang", "source", "n_chars"])
    rep = {}
    out = curate_corpus(docs, minhash_dedup=False,
                        paragraph_dedup=True,
                        dsir_target=target, dsir_scale=1.0,
                        drop_quality_pct=0.0, drop_perplexity_pct=0.0,
                        report=rep)
    rows = out.collect()
    # the boilerplate paragraph survives only in its first-occurrence doc
    texts = {r["doc_id"]: r["text"] for r in rows}
    n_with_boiler = sum(1 for t in texts.values() if boiler in t)
    assert n_with_boiler <= 1
    # both new stages show up in the funnel report
    assert "s2b_paragraph_dedup" in rep and "s5b_dsir" in rep
    assert rep["s5b_dsir"] <= rep["s2b_paragraph_dedup"]
    # DSIR prefers the fox-like docs (ids >= 100) over the generic bodies
    kept_ids = set(texts)
    frac_fox = (sum(1 for i in kept_ids if i >= 100) / 10)
    frac_gen = (sum(1 for i in kept_ids if i < 100) / 30)
    assert frac_fox >= frac_gen


def test_bm25_indexed_matches_direct(spark, db, tmp_path):
    from tostore_spark.llmops.search import (bm25_build_index, bm25_search,
                                             bm25_search_indexed)
    docs = db.df("documents")
    meta = bm25_build_index(docs, str(tmp_path / "idx"))
    assert meta["n_docs"] > 0 and meta["avgdl"] > 0
    q = "spark join window merge"
    direct = [(r["doc_id"], round(r["score"], 9))
              for r in bm25_search(docs, q, k=15).collect()]
    indexed = [(r["doc_id"], round(r["score"], 9))
               for r in bm25_search_indexed(spark, str(tmp_path / "idx"),
                                            q, k=15).collect()]
    assert direct == indexed and len(direct) == 15
    # the postings read pushes the token predicate into the scan
    plan = (spark.read.parquet(str(tmp_path / "idx" / "postings"))
            .filter("tok in ('spark','join')")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [In(tok" in plan


def test_paragraph_dedup_differential_vs_python(spark):
    """Randomized differential check against a pure-Python reference."""
    import random
    from tostore_spark.llmops.paragraphs import paragraph_dedup
    rnd = random.Random(13)
    paras = [f"para {i} words here" for i in range(8)]
    docs = [(i, "\n\n".join(rnd.choice(paras)
                            for _ in range(rnd.randrange(1, 5))))
            for i in range(25)]

    def python_ref(docs_):
        seen, out = set(), {}
        for did, text in sorted(docs_):
            kept = []
            total = 0
            for p in text.split("\n\n"):
                p = p.strip()
                if not p:
                    continue
                total += 1
                if p not in seen:
                    seen.add(p)
                    kept.append(p)
            if kept:
                out[did] = ("\n\n".join(kept), len(kept), total)
        return out

    want = python_ref(docs)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r.doc_id: (r.text_clean, r.n_para_kept, r.n_para_total)
           for r in paragraph_dedup(df).collect()}
    assert got == want


def test_lsh_params_for_threshold():
    from tostore_spark.llmops.tuning import (lsh_collision_probability,
                                             lsh_params_for_threshold)
    p = lsh_params_for_threshold(0.8, n_hashes=128)
    assert p["n_bands"] * p["rows_per_band"] <= 128
    assert abs(p["midpoint"] - 0.8) < 0.05
    # S-curve sanity: well above the cut ~ certain, well below ~ never
    b, r = p["n_bands"], p["rows_per_band"]
    assert lsh_collision_probability(0.95, b, r) > 0.95
    assert lsh_collision_probability(0.3, b, r) < 0.05
    # a lower threshold needs fewer rows per band (gentler curve)
    p_low = lsh_params_for_threshold(0.4, n_hashes=128)
    assert p_low["rows_per_band"] < p["rows_per_band"]
    import pytest as _pt
    with _pt.raises(ValueError):
        lsh_params_for_threshold(1.5)


def test_gopher_rules_individual(spark):
    from tostore_spark.llmops.filters import gopher_filter, gopher_flags
    good = ("the data and the model have to be of good size and that "
            "is why we train with care " * 3).strip()
    docs = [
        (1, good),                                   # passes everything
        (2, "short text"),                           # word count
        (3, ("a " * 80).strip()),                    # mean word len < 3
        (4, good.replace("data", "####")),           # symbols (still ok ratio)
        (5, ("the " + "123 " * 79).strip()),         # alpha fraction
        (6, ("zebra quickly jumped over orange fences while nine "
             "purple llamas watched silently today " * 8).strip()),  # no stopwords... 'over'? not in list
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    flags = {r.doc_id: r for r in
             gopher_flags(df, min_words=20, min_stopwords=2).collect()}
    assert flags[1].gopher_keep
    assert not flags[2].r_word_count
    assert not flags[3].r_mean_word_len
    assert not flags[5].r_alpha_fraction
    assert not flags[6].r_stopwords
    kept = gopher_filter(df, min_words=20, min_stopwords=2)
    assert "gopher_keep" not in kept.columns
    assert {r.doc_id for r in kept.select("doc_id").collect()} <= {1, 4}


def test_temperature_sample_rebalances(spark):
    from tostore_spark.llmops.pipeline import temperature_sample
    rows = ([(i, "big") for i in range(900)]
            + [(1000 + i, "small") for i in range(100)])
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = temperature_sample(df, alpha=0.3)
    counts = {r.source: r["count"] for r in
              out.groupBy("source").count().collect()}
    # default budget=N: small group kept whole (keep prob clamps at 1,
    # no upsampling), big group down-sampled by its share
    assert counts["small"] == 100
    assert 600 < counts["big"] < 720     # keep ~ 0.659
    # with a budget the shares are feasible for, the realized ratio
    # approaches the n^alpha target (900^.3 : 100^.3 ~ 1.93:1)
    t = {r.source: r["count"] for r in
         temperature_sample(df, alpha=0.3, budget=290)
         .groupBy("source").count().collect()}
    ratio = t["big"] / t["small"]
    assert 1.4 < ratio < 2.6
    # alpha=1 is a no-op rebalance (keep = 1 everywhere)
    full = temperature_sample(df, alpha=1.0)
    assert full.count() == 1000
    # deterministic re-run
    again = {r.source: r["count"] for r in
             temperature_sample(df, alpha=0.3)
             .groupBy("source").count().collect()}
    assert again == counts
    import pytest as _pt
    with _pt.raises(ValueError):
        temperature_sample(df, alpha=0.0)


def test_curate_corpus_temperature_stage(spark):
    from tostore_spark.llmops.pipeline import curate_corpus
    docs = spark.createDataFrame(
        [(i, f"some body text number {i} here", "en",
          "big" if i < 90 else "small", 30) for i in range(100)],
        ["doc_id", "text", "lang", "source", "n_chars"])
    rep = {}
    out = curate_corpus(docs, minhash_dedup=False,
                        drop_quality_pct=0.0, drop_perplexity_pct=0.0,
                        temperature_alpha=0.3, report=rep)
    counts = {r.source: r["count"] for r in
              out.groupBy("source").count().collect()}
    assert "s6b_temperature" in rep
    # small source survives whole, big is down-sampled
    assert counts.get("small", 0) == 10 and counts["big"] < 90


def test_calibrate_scores_per_group(spark):
    from tostore_spark.llmops.filters import calibrate_scores
    # source A scores 10x source B's — raw cut at 5 keeps none of B,
    # calibrated cut at 0.5 keeps the top half of EACH
    rows = ([("A", i, float(10 * i)) for i in range(1, 11)]
            + [("B", 100 + i, float(i)) for i in range(1, 11)])
    df = spark.createDataFrame(rows, ["source", "doc_id", "q"])
    out = calibrate_scores(df, "q", by="source")
    kept = {r.doc_id for r in out.filter("score_pct > 0.5").collect()}
    assert sum(1 for d in kept if d < 100) == 5
    assert sum(1 for d in kept if d >= 100) == 5
    # cume_dist of the per-group max is exactly 1.0
    top = {r.doc_id: r.score_pct for r in out.collect()}
    assert top[10] == 1.0 and top[110] == 1.0


def test_curate_corpus_calibrated_quality(spark):
    from tostore_spark.llmops.pipeline import curate_corpus
    # source B's raw quality runs far below A's; the calibrated cut
    # keeps the top of EACH source instead of wiping B out
    good = ("the data and the model have to be of good size and that "
            "is why we train the set with great care and the results "
            "show that the work is of value to all of us here " * 2)
    rows = ([(i, good + f" extra {i}", "en", "A", 100)
             for i in range(20)]
            + [(100 + i, f"x{i} " * 30, "en", "B", 100)
               for i in range(20)])
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = curate_corpus(docs, minhash_dedup=False,
                        drop_quality_pct=0.5, quality_calibrated=True,
                        drop_perplexity_pct=0.0)
    kept = {r.source for r in out.select("source").distinct().collect()}
    assert kept == {"A", "B"}


def test_tfidf_terms_and_pairs(spark):
    """TF-IDF surface: the stopword cap drops corpus-wide tokens, top
    terms rank doc-characteristic words first, and the pair cosine is
    1.0 for identical docs / ordered sensibly for partial overlap."""
    import math

    from tostore_spark.llmops.search import (tfidf_similar_pairs,
                                             tfidf_top_terms,
                                             tfidf_vectors)
    docs = spark.createDataFrame([
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "the cat sat on the mat"),          # dup of 1
        (4, "quantum flux capacitor the"),
    ], ["doc_id", "text"])
    v = tfidf_vectors(docs, max_df_frac=0.8)
    toks = {r["tok"] for r in v.collect()}
    assert "the" not in toks                    # df 4/4 > 0.8 cap
    # hand-check one weight: 'cat' in doc 1 -> tf=1, df=2, N=4
    w_cat = [r["w"] for r in v.collect()
             if r["id"] == 1 and r["tok"] == "cat"][0]
    assert abs(w_cat - round(1 * (math.log(5 / 3) + 1), 9)) < 1e-9
    top = tfidf_top_terms(docs, top_n=2, max_df_frac=0.8)
    t4 = [r["tok"] for r in top.filter("id = 4").collect()]
    assert set(t4) <= {"quantum", "flux", "capacitor"}
    pairs = tfidf_similar_pairs(docs, k=5, max_df_frac=0.8,
                                min_shared=2).collect()
    best = pairs[0]
    assert (best["id_a"], best["id_b"]) == (1, 3)   # identical docs
    assert abs(best["cos"] - 1.0) < 1e-6
    # doc 4 shares no surviving token pair with 1/2/3 beyond min_shared
    assert all(4 not in (r["id_a"], r["id_b"]) for r in pairs)


def test_trigram_lm_rows_and_ordering_signal(spark):
    """trigram_rows pads the first two contexts with BOS; the trained
    scorer ranks in-order text as less surprising than the same words
    shuffled (the word-order signal a unigram model cannot see)."""
    from tostore_spark.llmops import lm as LM
    one = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    rows = [(r["prev2"], r["prev"], r["token"]) for r in
            LM.trigram_rows(one).collect()]
    assert rows == [("<s>", "<s>", "a"), ("<s>", "a", "b"),
                    ("a", "b", "c")]

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(20)],
        ["doc_id", "text"])
    model = LM.train_trigram_lm(train)
    probe = spark.createDataFrame(
        [(100, "the cat sat on the mat"),      # exactly in-distribution
         (101, "mat the on sat cat the")],     # same words, broken order
        ["doc_id", "text"])
    got = {r["id"]: r["bits_per_token"] for r in
           LM.trigram_bits_per_token(probe, model).collect()}
    assert got[100] < got[101]
    # empty doc: no rows, no score (same contract as the bigram scorer)
    empty = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    assert LM.trigram_bits_per_token(empty, model).count() == 0
    import pytest
    with pytest.raises(ValueError):
        LM.train_trigram_lm(train, lam3=0.8, lam2=0.5)


def test_trigram_scoring_plan_one_corpus_scan(spark, db):
    """The inline train+score plan reads the corpus EXACTLY twice total
    — once inside the train checkpoint job, once in the scoring plan.
    Pinned the same way as the minhash barrier: the trained model's
    count frames must all resolve to the materialized checkpoint, so
    the SCORING plan contains exactly ONE parquet scan (the score-side
    explode); before the round-8 fix the five joined count frames each
    re-derived the corpus explode (~6 scans, 20s at sf0.1)."""
    import contextlib
    import io
    import re

    from tostore_spark.llmops import lm as LM

    def n_scans(frame):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            frame.explain("formatted")
        # the details section numbers each physical node once:
        # "(1) Scan parquet" — count those, not the tree echo
        return len(re.findall(r"\(\d+\) Scan parquet", buf.getvalue()))

    docs = db.df("documents")
    model = LM.train_trigram_lm(docs)
    assert n_scans(LM.trigram_bits_per_token(docs, model)) == 1
    # same contract for the bigram trainer
    model2 = LM.train_ngram_lm(docs, n=2)
    assert n_scans(LM.ngram_bits_per_token(docs, model2)) == 1
    # materialize=False keeps the lazy frames for save-to-parquet
    # callers: the count frames then still chain back to the corpus
    lazy = LM.train_trigram_lm(docs, materialize=False)
    assert n_scans(LM.trigram_bits_per_token(docs, lazy)) > 1


def test_curate_corpus_lm_order_knob(spark, db):
    """lm_order routes the perplexity stage through the bigram/trigram
    scorers: each order runs end to end, drops a nonzero fraction, and
    is deterministic; an invalid order raises."""
    from tostore_spark.llmops.pipeline import curate_corpus
    train = db.df("documents").filter(F.col("doc_id") < 200)
    base = None
    for order in (2, 3):
        out = curate_corpus(train, None, minhash_dedup=False,
                            drop_quality_pct=0.0,
                            drop_perplexity_pct=0.1, lm_order=order,
                            n_shards=4)
        n = out.count()
        assert 0 < n < train.count()
        again = curate_corpus(train, None, minhash_dedup=False,
                              drop_quality_pct=0.0,
                              drop_perplexity_pct=0.1, lm_order=order,
                              n_shards=4).count()
        assert again == n
        base = n
    assert base is not None
    with pytest.raises(ValueError, match="lm_order"):
        curate_corpus(train, None, minhash_dedup=False,
                      drop_perplexity_pct=0.1, lm_order=4, n_shards=4)


def test_lm_and_bpe_artifact_roundtrip(spark, tmp_path):
    """save/load artifact forms: a reloaded trigram LM scores
    identically to the in-memory one; a reloaded BPE model has the same
    merge table and tokenizes identically."""
    from tostore_spark.llmops import lm as LM
    from tostore_spark.llmops import tokenizer as TK
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog sat too")
         for i in range(5)] + [(99, "zebra quark flux")],
        ["doc_id", "text"])
    model = LM.train_trigram_lm(docs)
    p = str(tmp_path / "lm3")
    LM.save_trigram_lm(model, p)
    re = LM.load_trigram_lm(spark, p)
    a = {r["id"]: r["bits_per_token"] for r in
         LM.trigram_bits_per_token(docs, model).collect()}
    b = {r["id"]: r["bits_per_token"] for r in
         LM.trigram_bits_per_token(docs, re).collect()}
    assert a == b and len(a) == 6

    bpe = TK.train_bpe(docs, num_merges=8)
    bp = str(tmp_path / "bpe")
    TK.save_bpe(bpe, bp)
    bre = TK.load_bpe(spark, bp)
    assert bre.merges == bpe.merges
    ta = {r["doc_id"]: list(r["bpe_tokens"]) for r in
          TK.tokenize_bpe(docs, bpe).collect()}
    tb = {r["doc_id"]: list(r["bpe_tokens"]) for r in
          TK.tokenize_bpe(docs, bre).collect()}
    assert ta == tb


def test_diversity_report_ratios(spark):
    """distinct-n semantics: duplicates counted, ratios exact, per-group
    isolation, whole-corpus mode, and the n>len guard."""
    from tostore_spark.llmops.text import diversity_report
    df = spark.createDataFrame(
        [(1, "a", "x y x y"),          # 4 tokens 2 distinct; 3 bigrams 2 distinct
         (2, "a", "x y z"),            # grows a's totals
         (3, "b", "q q q q q")],       # collapsed source: ratio 1/5
        ["doc_id", "source", "text"])
    out = {(r["source"], r["n"]): (r["n_total"], r["n_distinct"],
                                   r["distinct_ratio"])
           for r in diversity_report(df, by="source").collect()}
    assert out[("a", 1)] == (7, 3, round(3 / 7, 6))
    assert out[("b", 1)] == (5, 1, 0.2)
    # bigrams of doc1: "x y","y x","x y"; doc2: "x y","y z"
    assert out[("a", 2)] == (5, 3, 0.6)
    assert out[("b", 2)] == (4, 1, 0.25)
    # trigram of a 2-token doc is empty, not an error
    one = spark.createDataFrame([(1, "s", "x y")],
                                ["doc_id", "source", "text"])
    got = {r["n"]: r["n_total"] for r in
           diversity_report(one, by="source", ns=(3,)).collect()}
    assert got == {}                  # no trigrams -> no group row
    # whole-corpus mode
    allr = diversity_report(df, by=None, ns=(1,)).collect()
    assert len(allr) == 1 and allr[0]["n_total"] == 12
    import pytest as _pt
    with _pt.raises(ValueError):
        diversity_report(df, ns=(0,))


def test_unigram_drift_semantics(spark):
    """JSD drift: identical corpora score ~0; a vocabulary shift scores
    high with the culprit tokens on top; per-token contributions are
    non-negative and the total covers the whole vocabulary."""
    from tostore_spark.llmops.text import unigram_drift
    a = spark.createDataFrame(
        [(1, "alpha beta gamma alpha beta"),
         (2, "alpha beta gamma delta")], ["doc_id", "text"])
    same = unigram_drift(a, a, top_k=10).collect()
    assert abs(same[0]["jsd_total_r"]) < 1e-6
    b = spark.createDataFrame(
        [(1, "omega sigma tau omega sigma"),
         (2, "omega sigma tau rho")], ["doc_id", "text"])
    out = unigram_drift(a, b, top_k=10).collect()
    total = out[0]["jsd_total_r"]
    assert total > 0.3                     # disjoint vocab: large drift
    assert all(r["jsd_total_r"] == total for r in out)
    assert all(r["jsd_r"] >= 0 for r in out)
    # the shifted tokens dominate the report
    tops = {r["token"] for r in out}
    assert {"alpha", "omega"} <= tops
    import pytest as _pt
    with _pt.raises(ValueError):
        unigram_drift(a, b, smooth=0.0)
