"""Product quantization (PQ) with asymmetric-distance search — the
distributed analog of the reference's vector quantizer
(vector_quantizer.dart: PQ codebooks + ADC scoring + full-vector
re-rank inside ngh_graph_engine.dart's search loop).

PQ splits a d-dim vector into ``m`` subvectors and snaps each to the
nearest of ``n_codes`` learned codewords, storing ``m`` bytes per
vector (64-dim float32 → 8 bytes at m=8: 32x smaller).  Search never
decodes: the query precomputes a distance table ``lut[s][c] =
||q_s − codebook[s][c]||²`` driver-side (m·n_codes floats), and each
corpus row's approximate squared L2 is the FIXED-ORDER sum of ``m``
literal-array lookups — a pure map-side Column expression, no join, no
shuffle before the bounded top-k.  Exact re-rank of an oversampled
candidate set recovers the tail the quantization loses.

Spark-first notes: codebooks are learned driver-side in numpy over a
bounded deterministic sample (md5-ordered, the kmeans_centroids idiom —
cost independent of corpus size) and enter the plan as constants via
single-parse ``F.expr`` strings; encode is one argmin per subspace over
``n_codes`` literal distances.  Everything downstream of the sample is
whole-stage-codegen column math at any corpus scale.

Cosine note: L2 ADC on L2-normalized vectors ranks identically to
cosine (||a−b||² = 2−2cos); normalize upstream if cosine is wanted.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tostore_spark.vector import _sqld


def _sub_dist_sql(vec_field: str, start: int, code: Sequence[float]) -> str:
    """||slice(vec) − code||² as one SQL-text fold (single parser call)."""
    arr = "array(" + ",".join(_sqld(c) for c in code) + ")"
    return (f"aggregate(zip_with(slice(`{vec_field}`, {start + 1},"
            f" {len(code)}), {arr},"
            " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
            " 0.0D, (acc, x) -> acc + x)")


def pq_train(corpus: DataFrame, m: int = 8, n_codes: int = 16,
             vec_field: str = "embedding", id_field: str = "vec_id",
             sample: int = 1024,
             iterations: int = 10) -> list[list[list[float]]]:
    """Learn per-subspace codebooks: ``codebooks[s][c]`` is the c-th
    codeword of subspace s (length d/m).  Deterministic: md5-ordered
    sample, first-``n_codes`` init, plain Lloyd in float64 — the same
    inputs always produce the same codebooks, so they can be baked into
    an oracle or persisted as JSON."""
    import numpy as np

    rows = (corpus
            .orderBy(F.md5(F.col(id_field).cast("string")).asc(),
                     F.col(id_field).asc())
            .select(vec_field)
            .take(sample))
    if not rows:
        raise ValueError("pq_train: corpus is empty")
    X = np.array([[float(x) for x in r[vec_field]] for r in rows],
                 dtype=np.float64)
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub = d // m
    n_codes = min(n_codes, len(X))
    books: list[list[list[float]]] = []
    for s in range(m):
        Xs = X[:, s * sub:(s + 1) * sub]
        cents = Xs[:n_codes].copy()
        for _ in range(iterations):
            d2 = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(n_codes):
                members = Xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([[float(x) for x in cents[c]]
                      for c in range(n_codes)])
    return books


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              vec_field: str = "embedding",
              out_field: str = "pq_codes") -> DataFrame:
    """Assign each subvector its nearest codeword (first minimum on
    ties): output column ``out_field`` is ``array<tinyint>`` of length
    m.  Pure map-side expression — the argmin is array_position over a
    literal distance array, the ivf_build idiom per subspace."""
    sub = len(codebooks[0][0])
    code_cols = []
    for s, book in enumerate(codebooks):
        dists = ", ".join(_sub_dist_sql(vec_field, s * sub, code)
                          for code in book)
        code_cols.append(
            f"CAST(array_position(ds, array_min(ds)) - 1 AS TINYINT)"
            .replace("ds", f"array({dists})"))
    expr = "array(" + ", ".join(code_cols) + ")"
    return df.withColumn(out_field, F.expr(expr))


def pq_adc_column(codebooks: list[list[list[float]]],
                  query_vector: Sequence[float],
                  codes_col: str = "pq_codes") -> Column:
    """Approximate squared-L2 to the query: per-subspace lookup-table
    values as literal arrays, indexed by the stored code, summed in
    fixed subspace order (bit-stable, oracle-reproducible)."""
    q = [float(x) for x in query_vector]
    sub = len(codebooks[0][0])
    total = None
    for s, book in enumerate(codebooks):
        qs = q[s * sub:(s + 1) * sub]
        lut = [sum((a - b) * (a - b) for a, b in zip(qs, code))
               for code in book]
        arr = F.array(*[F.lit(v) for v in lut])
        term = F.element_at(arr, F.col(codes_col)
                            .getItem(s).cast("int") + 1)
        total = term if total is None else total + term
    return total


def pq_search(encoded: DataFrame, codebooks: list[list[list[float]]],
              query_vector: Sequence[float], k: int = 10,
              codes_col: str = "pq_codes", id_field: str = "vec_id",
              rerank_field: Optional[str] = None,
              oversample: int = 4) -> DataFrame:
    """ADC top-k over the encoded corpus: map-side score + bounded
    TakeOrderedAndProject.  With ``rerank_field`` (the original vector
    column), keep ``k*oversample`` ADC candidates and exact-re-rank them
    by true squared L2 — the reference's ADC-then-full-vector shape
    (ngh_graph_engine.dart search loop)."""
    adc = encoded.withColumn("adc_dist",
                             pq_adc_column(codebooks, query_vector,
                                           codes_col=codes_col))
    cand = (adc.orderBy(F.col("adc_dist").asc(), F.col(id_field).asc())
            .limit(k * oversample if rerank_field else k))
    if rerank_field is None:
        return cand
    q = [float(x) for x in query_vector]
    arr = "array(" + ",".join(_sqld(x) for x in q) + ")"
    exact = F.expr(
        f"aggregate(zip_with(`{rerank_field}`, {arr},"
        " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " 0.0D, (acc, x) -> acc + x)")
    return (cand.withColumn("distance", exact)
            .orderBy(F.col("distance").asc(), F.col(id_field).asc())
            .limit(k))


def fixed_codebooks(dim: int, m: int = 4, n_codes: int = 8,
                    seed: int = 42) -> list[list[list[float]]]:
    """Deterministic data-independent codebooks (the random_hyperplanes
    LCG, scaled) for oracle-reproducible runs and cold starts; production
    codebooks come from ``pq_train``."""
    from tostore_spark.vector import random_hyperplanes

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rows = random_hyperplanes(sub, m * n_codes, seed=seed)
    return [[[x * 0.5 for x in rows[s * n_codes + c]]
             for c in range(n_codes)] for s in range(m)]


# ------------------------------------------------------------------ IVFPQ
def ivfpq_build(corpus: DataFrame, n_cells: int = 16, m: int = 8,
                n_codes: int = 16, vec_field: str = "embedding",
                id_field: str = "vec_id", centroids=None, codebooks=None,
                sample: int = 1024):
    """IVF cells + PQ codes — the coarse-quantize-then-fine-quantize
    index (FAISS IVFADC / the reference's graph+quantizer pairing,
    ngh_graph_engine.dart + vector_quantizer.dart): the cell prunes the
    search to nprobe/n_cells of the corpus, the codes shrink what the
    probe reads by ~32x.  Returns (encoded corpus with cell_id +
    pq_codes, centroids, codebooks)."""
    from tostore_spark.llmops.similarity import ivf_build
    indexed, cents = ivf_build(corpus, n_cells=n_cells,
                               vec_field=vec_field, id_field=id_field,
                               centroids=centroids)
    books = codebooks if codebooks is not None else pq_train(
        corpus, m=m, n_codes=n_codes, vec_field=vec_field,
        id_field=id_field, sample=sample)
    return pq_encode(indexed, books, vec_field=vec_field), cents, books


def ivfpq_search(encoded: DataFrame, centroids, codebooks,
                 query_vector: Sequence[float], k: int = 10,
                 nprobe: int = 2, id_field: str = "vec_id",
                 rerank_field: Optional[str] = None,
                 oversample: int = 4) -> DataFrame:
    """Probe the ``nprobe`` nearest cells (driver-side over the small
    centroid list, cosine — same metric as the assignment), ADC-score
    only the probed rows, optionally exact-re-rank.  Over a persisted
    index the isin(cell_id) filter is partition pruning: the probe reads
    nprobe/n_cells of the files, and each row read is m bytes of codes
    instead of the full vector."""
    import math

    def cos_d(a: Sequence[float], b: Sequence[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return 1.0 - dot / (na * nb)

    probe = sorted(centroids,
                   key=lambda c: (cos_d(c[1], list(query_vector)), c[0]))
    cells = [cid for cid, _ in probe[:nprobe]]
    cand = encoded.filter(F.col("cell_id").isin(cells))
    return pq_search(cand, codebooks, query_vector, k=k,
                     id_field=id_field, rerank_field=rerank_field,
                     oversample=oversample)


def ivfpq_write_index(encoded: DataFrame, centroids, codebooks,
                      path: str, id_field: str = "vec_id") -> str:
    """Persist: cells/ parquet partitioned by cell_id (probe = partition
    pruning) + the centroid sidecar (ivf_write_index) + a codebook
    sidecar, so a fresh engine searches without rebuilding anything."""
    import json
    import os

    from tostore_spark.llmops.similarity import ivf_write_index
    ivf_write_index(encoded, centroids, path, id_field=id_field)
    with open(os.path.join(path, "codebooks.json"), "w") as f:
        json.dump({"codebooks": codebooks}, f)
    return path


def ivfpq_read_index(spark, path: str):
    """(encoded DataFrame, centroids, codebooks) from a persisted index."""
    import json
    import os

    from tostore_spark.llmops.similarity import ivf_read_index
    encoded, cents = ivf_read_index(spark, path)
    with open(os.path.join(path, "codebooks.json")) as f:
        books = json.load(f)["codebooks"]
    return encoded, cents, books
