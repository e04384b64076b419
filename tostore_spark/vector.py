"""Vector search: exact scored top-k plus an LSH-bucketed scale path.

Reference surface:
- API: ``vectorSearch(table, {fieldName, queryVector, topK, efSearch,
  distanceThreshold})`` → results sorted by distance
  (lib/tostore.dart:493-511; lib/src/core/data_store_impl.dart:5849-5867)
- metrics l2 / innerProduct / cosine; cosine normalizes the query and
  distance = 1 − sim (table_schema.dart:2511-2531;
  vector_index_manager.dart:516-518)
- score: l2 → 1/(1+d); innerProduct → sigmoid(−d); cosine → 1−d clamped
  [0,1] (vector_index_manager.dart:1410-1421)
- the NGH graph index (ngh_graph_engine.dart) is a single-node in-memory
  structure with no distributed analog; ``efSearch`` maps to IVF
  ``nprobe`` via llmops.similarity.ef_search_to_nprobe (probe enough
  cells to scan ~efSearch vectors; recall pinned >=0.9 at two corpus
  sizes in tests/test_vector_index.py).  The scale paths are LSH
  bucketing (random-hyperplane signatures) and the persisted IVF index,
  so candidate generation is a bucket join / partition-pruned probe, not
  an all-pairs scan.

Everything is computed JVM-side with built-in higher-order functions
(``aggregate``/``zip_with``) — no Python UDF in the hot path, so the top-k
is a single TakeOrderedAndProject over a narrow projection at any scale.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tostore_spark.broadcast import broadcast


def _dot(vec_col: Column, q: Sequence[float]) -> Column:
    qcol = F.array(*[F.lit(float(x)) for x in q])
    return F.aggregate(
        F.zip_with(vec_col, qcol, lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)


def _norm_sq(vec_col: Column) -> Column:
    return F.aggregate(vec_col, F.lit(0.0),
                       lambda acc, x: acc + x.cast("double") * x.cast("double"))


def _sqld(x: float) -> str:
    """A Python float as a Spark SQL double literal (repr round-trips)."""
    return repr(float(x)) + "D"


def _dot_sql(field: str, q: Sequence[float]) -> str:
    """SQL-text twin of ``_dot``: identical Catalyst tree, one parser call
    instead of ~len(q) py4j round-trips — plan construction for a 64-dim
    query drops from ~150 ms to ~10 ms of driver time."""
    arr = "array(" + ",".join(_sqld(x) for x in q) + ")"
    return (f"aggregate(zip_with(`{field}`, {arr},"
            " (a, b) -> CAST(a AS DOUBLE) * b), 0.0D, (acc, x) -> acc + x)")


def _norm_sq_sql(field: str) -> str:
    return (f"aggregate(`{field}`, 0.0D,"
            " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")


def distance_column(vec_col, query: Sequence[float], metric: str) -> Column:
    """distance per the reference's metric definitions.  ``vec_col`` may be
    a Column or a plain field name; the name form builds the whole
    expression through one SQL-parser call (same tree, ~15x less driver
    time than the py4j Column chain — the dominant cost of a warm top-k)."""
    q = [float(x) for x in query]
    if isinstance(vec_col, str):
        f = vec_col
        if metric == "l2":
            qsq = sum(x * x for x in q)
            return F.expr(
                f"sqrt(greatest({_norm_sq_sql(f)} - 2.0D * {_dot_sql(f, q)}"
                f" + {_sqld(qsq)}, 0.0D))")
        if metric == "innerProduct":
            return F.expr(f"- {_dot_sql(f, q)}")
        if metric == "cosine":
            qn = math.sqrt(sum(x * x for x in q)) or 1.0
            qq = [x / qn for x in q]
            return F.expr(
                f"1.0D - {_dot_sql(f, qq)}"
                f" / sqrt(greatest({_norm_sq_sql(f)}, 1e-30D))")
        raise ValueError(f"unknown metric: {metric}")
    if metric == "l2":
        qsq = sum(x * x for x in q)
        # ||v-q||^2 = ||v||^2 - 2 v.q + ||q||^2, computed in one pass
        return F.sqrt(F.greatest(
            _norm_sq(vec_col) - F.lit(2.0) * _dot(vec_col, q) + F.lit(qsq),
            F.lit(0.0)))
    if metric == "innerProduct":
        return -_dot(vec_col, q)
    if metric == "cosine":
        # query normalized first (vector_index_manager.dart:516-518)
        qn = math.sqrt(sum(x * x for x in q)) or 1.0
        qq = [x / qn for x in q]
        sim = _dot(vec_col, qq) / F.sqrt(F.greatest(_norm_sq(vec_col), F.lit(1e-30)))
        return F.lit(1.0) - sim
    raise ValueError(f"unknown metric: {metric}")


def score_column(dist: Column, metric: str) -> Column:
    # vector_index_manager.dart:1410-1421
    if metric == "l2":
        return F.lit(1.0) / (F.lit(1.0) + dist)
    if metric == "innerProduct":
        return F.lit(1.0) / (F.lit(1.0) + F.exp(dist))  # sigmoid(−d), d = −ip
    if metric == "cosine":
        return F.greatest(F.least(F.lit(1.0) - dist, F.lit(1.0)), F.lit(0.0))
    raise ValueError(f"unknown metric: {metric}")


def vector_search(df: DataFrame, field_name: str, query_vector: Sequence[float],
                  top_k: int = 10, metric: str = "cosine",
                  distance_threshold: Optional[float] = None,
                  pk: Optional[str] = None) -> DataFrame:
    """Exact brute-force scored top-k — a narrow scan + TakeOrderedAndProject;
    at 100 TB this is one pass over the vector column only (Parquet column
    pruning drops everything else before the distance math)."""
    dist = distance_column(field_name, query_vector, metric)
    out = df.withColumn("distance", dist)
    if distance_threshold is not None:
        out = out.filter(F.col("distance") <= F.lit(float(distance_threshold)))
    out = out.withColumn("score", score_column(F.col("distance"), metric))
    order = [F.col("distance").asc()]
    if pk:
        order.append(F.col(pk).asc())
    return out.orderBy(*order).limit(top_k)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy RNG state so
    results are stable across workers/rounds)."""
    planes, state = [], seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_column(vec_col, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature (sign bits packed into a long): vectors in
    the same bucket are cosine-close candidates.  Bucketing turns ANN search
    into an equi-join on the signature — shuffle on a small key, no all-pairs.
    ``vec_col`` may be a Column or a field name (name = single-parse build,
    ~n_planes*dim fewer py4j calls)."""
    if isinstance(vec_col, str):
        terms = " + ".join(
            f"shiftleft(CAST(({_dot_sql(vec_col, p)} > 0) AS BIGINT), {i})"
            for i, p in enumerate(planes))
        return F.expr(f"CAST(0 AS BIGINT) + {terms}")
    bit = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        sign = (_dot(vec_col, p) > 0).cast("long")
        bit = bit + F.shiftleft(sign, i)
    return bit


def vector_search_lsh(df: DataFrame, field_name: str, query_vector: Sequence[float],
                      top_k: int = 10, metric: str = "cosine",
                      n_planes: int = 8, n_probes: int = 4,
                      pk: Optional[str] = None) -> DataFrame:
    """Approximate top-k: multi-probe LSH — probe the query's bucket plus
    the ``n_probes - 1`` single-bit-flip neighbor buckets whose hyperplane
    margin is smallest (the standard multi-probe heuristic), then exact
    re-rank inside the probed buckets.  This is the reference's
    quantize-then-re-rank shape (ngh_graph_engine.dart) in bucket form:
    candidate generation is a pushdown-able IN filter on the bucket id, so
    at scale a probe touches ~n_probes/2^n_planes of the corpus."""
    dim = len(query_vector)
    planes = random_hyperplanes(dim, n_planes)
    sig, margins = 0, []
    for i, p in enumerate(planes):
        proj = sum(a * float(b) for a, b in zip(p, query_vector))
        if proj > 0:
            sig |= 1 << i
        margins.append((abs(proj), i))
    probes = [sig]
    for _, i in sorted(margins)[: max(0, n_probes - 1)]:
        probes.append(sig ^ (1 << i))
    bucketed = df.filter(lsh_bucket_column(field_name, planes).isin(probes))
    return vector_search(bucketed, field_name, query_vector, top_k=top_k,
                         metric=metric, pk=pk)


# ------------------------------------------------- scalar quantization
def quantize_embeddings(df: DataFrame, vec_field: str = "embedding",
                        id_field: str = "vec_id") -> DataFrame:
    """Symmetric int8 scalar quantization — the storage/bandwidth side of
    the reference's vector quantizer (vector_quantizer.dart): per-vector
    ``scale = max|x| / 127`` and ``codes[i] = round(x_i / scale)`` in
    [-127, 127], stored as ``array<tinyint>`` + one float — 4x smaller
    at rest and on the shuffle wire than float32.  Pure column math
    (one pass, no shuffle); zero vectors get scale 0 and all-zero codes.

    Output: input columns minus the vector, plus (codes, scale)."""
    v = F.col(vec_field)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))) \
        / F.lit(127.0)
    df = df.withColumn("scale", scale)
    codes = F.when(
        F.col("scale") <= 0.0,
        F.transform(v, lambda x: F.lit(0).cast("byte"))
    ).otherwise(
        F.transform(v, lambda x: F.round(x.cast("double") / F.col("scale"))
                    .cast("byte")))
    return df.withColumn("codes", codes).drop(vec_field)


def dequantize_column(codes_col: Column, scale_col: Column) -> Column:
    """codes → approximate float vector (``code * scale``)."""
    return F.transform(codes_col, lambda c: c.cast("double") * scale_col)


def quantized_knn_join(queries_q: DataFrame, corpus_q: DataFrame,
                       k: int = 10, rerank: Optional[tuple] = None,
                       oversample: int = 4) -> DataFrame:
    """k-NN over QUANTIZED frames (both sides from
    ``quantize_embeddings``): distances are computed on int8 codes
    (``(1 - dot_ab·s_a·s_b / (|a||b|s_a s_b))`` — the scales cancel in
    cosine, so this is cosine over the dequantized vectors without
    materializing them).  The asymmetric-distance + re-rank shape of the
    reference quantizer: pass ``rerank=(queries, corpus)`` with the
    ORIGINAL float frames to keep ``oversample*k`` quantized candidates
    and exact-re-rank them to the final k."""
    from tostore_spark.llmops.similarity import (cosine_distance_cols,
                                                 topk_per_query)
    q = queries_q.select(F.col("vec_id").alias("query_id"),
                         F.col("codes").alias("__qc"))
    c = corpus_q.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("codes").alias("__cc"))
    # the query side, bounded like similarity.knn_join's
    joined = c.crossJoin(broadcast(q)) \
              .filter(F.col("query_id") != F.col("neighbor_id"))
    # cosine over codes: scales cancel, int math stays cheap
    dist = cosine_distance_cols(F.col("__qc"), F.col("__cc"))
    scored = joined.select("query_id", "neighbor_id",
                           dist.alias("distance"))
    kq = k * oversample if rerank is not None else k
    approx = topk_per_query(scored, kq)
    if rerank is None:
        return approx
    queries, corpus = rerank
    cand = approx.select("query_id", "neighbor_id")
    qv = queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("__qv"))
    cv = corpus.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("__cv"))
    # the query side again: unhinted, Python-row queries would shuffle
    exact = (cand.join(broadcast(qv), "query_id")
             .join(cv, "neighbor_id")
             .select("query_id", "neighbor_id",
                     cosine_distance_cols(F.col("__qv"), F.col("__cv"))
                     .alias("distance")))
    return topk_per_query(exact, k)
