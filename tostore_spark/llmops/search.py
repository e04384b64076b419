"""BM25 keyword retrieval over the corpus — the lexical-search side of
corpus curation (find documents about X, pull eval-adjacent passages,
seed data-selection queries), complementing the embedding ANN path.

Spark shape: ONE corpus pass explodes tokens, an ``isin(query terms)``
filter cuts the stream to the query's postings immediately (the explode
never materializes non-query tokens past the filter), and everything
downstream — per-(doc, term) tf, per-term df, doc length, the global
(N, avgdl) scalars — is hash-aggregates joined back on tiny keys.  The
two corpus-wide scalars stay IN the plan as a broadcast nested-loop of
one row (the quality_filter idiom), never a driver collect.

Determinism contract for the oracle: the final score is the sum of
per-term partial scores added in FIXED (sorted-term) order via a pivot,
not a float aggregate in arbitrary order — bit-stable across engines.

Parity-plus: the reference has no full-text search surface (its queries
are record predicates, data_store_impl.dart); BM25 is the standard
corpus-retrieval baseline (Robertson-Sparck Jones idf, k1/b as in
Robertson et al., TREC-3).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tostore_spark.broadcast import broadcast
from tostore_spark.llmops.text import WORD_RE, tokens
# spread: tokenize+explode is the CPU-heavy per-row stage of every
# builder in this module, and a one-file corpus would serialize it on
# one core (no-op when the scan already splits >= cores wide);
# downstream frames are count/DECIMAL aggregates, partition-independent
from tostore_spark.llmops.dedup import _spread
from tostore_spark.pin import pin


def query_terms(query: str) -> list[str]:
    """The query tokenized exactly like the corpus (lowercase word
    regex), de-duplicated, sorted — the fixed term order the score sum
    uses."""
    return sorted(set(re.findall(WORD_RE, query.lower())))


def bm25_search(docs: DataFrame, query: str, k: int = 10,
                k1: float = 1.2, b: float = 0.75,
                text_field: str = "text",
                id_field: str = "doc_id") -> DataFrame:
    """Top-k documents by BM25 for ``query``.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)); terms absent from a doc
    contribute 0.  Returns (id, score, per-term tf columns are internal).
    Output: ``(id_field, score)`` ordered by (score desc, id) — a
    TakeOrderedAndProject, bounded at any corpus size.
    """
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no indexable terms")
    toks = tokens(F.col(text_field))
    base = _spread(docs).select(F.col(id_field).alias("id"),
                                F.explode(toks).alias("tok"))
    hits = base.filter(F.col("tok").isin(terms))
    tf = hits.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = hits.groupBy("tok").agg(
        F.countDistinct("id").alias("term_df"))
    dl = docs.select(F.col(id_field).alias("id"),
                     F.size(toks).cast("long").alias("dl"))
    stats = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                     F.avg(F.size(toks).cast("long")).alias("avgdl"))
    # |vocabulary| rows: the planner sizes the aggregate by the corpus
    scored = (tf.join(broadcast(dfreq), "tok")
                .join(dl, "id")
                .crossJoin(stats))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("term_df") + 0.5)
                / (F.col("term_df") + 0.5))
    part = (idf * (F.col("tf").cast("double") * (k1 + 1.0))
            / (F.col("tf").cast("double")
               + k1 * (1.0 - b + b * F.col("dl").cast("double")
                       / F.col("avgdl"))))
    per_term = (scored.withColumn("part", part)
                .groupBy("id").pivot("tok", terms).agg(F.first("part")))
    score = None
    for t in terms:   # fixed-order sum: bit-stable, oracle-reproducible
        c = F.coalesce(F.col(f"`{t}`"), F.lit(0.0))
        score = c if score is None else score + c
    return (per_term.select(F.col("id").alias(id_field),
                            score.alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_field))
            .limit(k))


def bm25_build_index(docs: DataFrame, path: str,
                     text_field: str = "text",
                     id_field: str = "doc_id") -> dict:
    """Persist the inverted index so repeated searches never rescan the
    corpus text: ``postings/`` (tok, id, tf) range-partitioned and
    sorted on the token — parquet footer min/max prune to the query
    terms' row groups — ``doclens/`` (id, dl), and a tiny JSON sidecar
    with the (N, avgdl) scalars (the centroid-sidecar idiom,
    similarity.py).  One corpus pass builds everything.  Returns the
    sidecar dict."""
    import json
    import os

    toks = tokens(F.col(text_field))
    base = _spread(docs).select(F.col(id_field).alias("id"),
                                F.explode(toks).alias("tok"))
    tf = base.groupBy("tok", "id").agg(F.count(F.lit(1)).alias("tf"))
    (tf.repartitionByRange(32, "tok").sortWithinPartitions("tok")
       .write.mode("overwrite").parquet(os.path.join(path, "postings")))
    dl = docs.select(F.col(id_field).alias("id"),
                     F.size(toks).cast("long").alias("dl"))
    dl.write.mode("overwrite").parquet(os.path.join(path, "doclens"))
    n_docs, avgdl = docs.agg(
        F.count(F.lit(1)).cast("double"),
        F.avg(F.size(toks).cast("long"))).first()
    meta = {"n_docs": float(n_docs), "avgdl": float(avgdl)}
    with open(os.path.join(path, "bm25_meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def bm25_search_indexed(spark, path: str, query: str, k: int = 10,
                        k1: float = 1.2, b: float = 0.75,
                        id_field: str = "doc_id") -> DataFrame:
    """BM25 top-k against a persisted ``bm25_build_index`` artifact —
    identical scores to ``bm25_search`` (pytest-pinned) but the only
    data read is the query terms' postings (token predicate pushed into
    the range-sorted parquet) plus the doc-length table.  Per-term df is
    computed from the filtered postings (df is only needed for the
    query's own terms)."""
    import json
    import os

    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no indexable terms")
    with open(os.path.join(path, "bm25_meta.json")) as f:
        meta = json.load(f)
    hits = (spark.read.parquet(os.path.join(path, "postings"))
            .filter(F.col("tok").isin(terms)))
    dl = spark.read.parquet(os.path.join(path, "doclens"))
    dfreq = hits.groupBy("tok").agg(F.countDistinct("id").alias("term_df"))
    scored = (hits.join(dfreq, "tok").join(dl, "id"))
    n_docs = F.lit(float(meta["n_docs"]))
    avgdl = F.lit(float(meta["avgdl"]))
    idf = F.log(F.lit(1.0) + (n_docs - F.col("term_df") + 0.5)
                / (F.col("term_df") + 0.5))
    part = (idf * (F.col("tf").cast("double") * (k1 + 1.0))
            / (F.col("tf").cast("double")
               + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)))
    per_term = (scored.withColumn("part", part)
                .groupBy("id").pivot("tok", terms).agg(F.first("part")))
    score = None
    for t in terms:   # same fixed-order sum as bm25_search
        c = F.coalesce(F.col(f"`{t}`"), F.lit(0.0))
        score = c if score is None else score + c
    return (per_term.select(F.col("id").alias(id_field),
                            score.alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_field))
            .limit(k))


def tfidf_vectors(docs: DataFrame, text_field: str = "text",
                  id_field: str = "doc_id",
                  max_df_frac: float = 0.5) -> DataFrame:
    """Sparse TF-IDF term weights, long form: one row per (doc, token)
    of (id, tok, tf, df, w) with w = tf * (ln((N+1)/(df+1)) + 1)
    (smoothed idf, scikit-style).  The feature layer under
    ``tfidf_top_terms`` / ``tfidf_similar_pairs`` and the lexical
    counterpart of the embedding path.

    Shape: one corpus pass explodes tokens; per-(doc, token) tf and
    per-token df are hash-aggregates on uniform keys; N rides along as
    a 1-row broadcast constant (never a driver collect).  Tokens in
    more than ``max_df_frac`` of documents (stopwords — the hot keys)
    are dropped BEFORE any downstream join, which is what keeps the
    pair-similarity join bucketed at corpus scale.

    Determinism: w rounds to 9 dp — ln over the same integer inputs is
    bit-identical across engines for these magnitudes.
    """
    toks = tokens(F.col(text_field))
    base = _spread(docs).select(F.col(id_field).alias("id"),
                                F.explode(toks).alias("tok"))
    tf = base.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("__n"))
    return (tf.join(dfreq, on="tok")
              .crossJoin(n_docs)
              .filter(F.col("df") <= F.col("__n") * F.lit(float(max_df_frac)))
              .withColumn(
                  "w",
                  F.round(F.col("tf")
                          * (F.log((F.col("__n") + 1)
                                   / (F.col("df") + 1)) + F.lit(1.0)), 9))
              .select("id", "tok", "tf", "df", "w"))


def tfidf_top_terms(docs: DataFrame, top_n: int = 3,
                    text_field: str = "text", id_field: str = "doc_id",
                    max_df_frac: float = 0.5) -> DataFrame:
    """The ``top_n`` most characteristic terms per document by TF-IDF —
    keyword extraction for corpus exploration and topic labeling.
    One id-partitioned row_number over the weight frame (bounded
    per-doc state); ties break on token text for determinism.
    Output: (id, tok, w, rank)."""
    from pyspark.sql import Window
    v = tfidf_vectors(docs, text_field=text_field, id_field=id_field,
                      max_df_frac=max_df_frac)
    w_rank = Window.partitionBy("id").orderBy(
        F.col("w").desc(), F.col("tok").asc())
    return (v.withColumn("rank", F.row_number().over(w_rank))
             .filter(F.col("rank") <= top_n)
             .select("id", "tok", "w", "rank"))


def tfidf_similar_pairs(docs: DataFrame, k: int = 20,
                        text_field: str = "text", id_field: str = "doc_id",
                        max_df_frac: float = 0.2,
                        min_shared: int = 2) -> DataFrame:
    """Top-k most similar document PAIRS by sparse TF-IDF cosine — the
    lexical near-duplicate/related-content report next to the minhash
    (set-overlap) and embedding (dense) paths.

    cosine(a, b) = Σ_t w_at·w_bt / (‖a‖·‖b‖), summed only over SHARED
    tokens — so the pair join is BLOCKED on the token: only documents
    sharing a surviving token ever meet, and ``max_df_frac`` caps each
    token's posting list (a token in df docs contributes df² pair
    candidates; the cap bounds the quadratic term the way LSH bands
    bound the minhash join — no all-pairs stage).  ``min_shared``
    drops one-token coincidences.

    Determinism: per-term products round to 9 dp and sum as
    DECIMAL(28,9) (order-independent); the final cosine rounds to 6 dp
    BEFORE the ordering so a last-ulp sqrt/division difference cannot
    reorder the top-k across engines.  Output: (id_a, id_b, n_shared,
    cos) with id_a < id_b, ordered (cos desc, id_a, id_b), top k."""
    from pyspark.sql import Window

    # norms ride ON the vector rows (one id-partitioned window before
    # the single materialization) instead of re-aggregating the frame
    # and JOINING the result back onto the PAIR table twice — the pair
    # table is the quadratic-ish one, so the two post-aggregation
    # shuffles this removes are the ones that grow fastest with corpus
    # size (guide §2.3/§2.4: shuffle the small proxy, not the big
    # frame).  Same DECIMAL sum per id → bit-identical norms.
    v = tfidf_vectors(docs, text_field=text_field, id_field=id_field,
                      max_df_frac=max_df_frac)
    nw = Window.partitionBy("id")
    # pin a WIDE tok-partitioned layout: AQE coalesces the tiny
    # norm-window exchange (measured: 1 partition at sf0.1) and the pin
    # would keep that — the pair explosion below (the quadratic-ish
    # stage) then runs on 1-2 cores.  Hash-partitioning on the JOIN key
    # at the session's shuffle-partition count keeps the layout
    # cluster-sized AND lets the self-join reuse the partitioning
    # instead of re-exchanging both branches (guide §2.4).  Both join
    # branches read the one pin.
    v = pin(v.withColumn(
              "nrm",
              F.sqrt(F.sum(F.round(F.col("w") * F.col("w"), 9)
                           .cast("decimal(28,9)")).over(nw)
                      .cast("double")))
             .repartition(int(docs.sparkSession.conf.get(
                 "spark.sql.shuffle.partitions")), "tok"), eager=True)
    a, b = v.alias("a"), v.alias("b")
    pairs = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                    & (F.col("a.id") < F.col("b.id")))
              .groupBy(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b"))
              .agg(F.count(F.lit(1)).alias("n_shared"),
                   F.sum(F.round(F.col("a.w") * F.col("b.w"), 9)
                         .cast("decimal(28,9)")).alias("__dot"),
                   F.min(F.col("a.nrm")).alias("__na"),   # constant per id
                   F.min(F.col("b.nrm")).alias("__nb")))
    return (pairs.filter(F.col("n_shared") >= min_shared)
                 .withColumn("cos",
                             F.round(F.col("__dot").cast("double")
                                     / (F.col("__na") * F.col("__nb")), 6))
                 .select("id_a", "id_b", "n_shared", "cos")
                 .orderBy(F.col("cos").desc(), F.col("id_a").asc(),
                          F.col("id_b").asc())
                 .limit(k))
