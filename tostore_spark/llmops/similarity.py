"""Similarity search over embedding columns: brute-force top-k baseline and
an IVF (inverted-file) scale path.

Brute-force: queries × corpus as a broadcast nested-loop (queries are small;
the corpus streams), per-query top-k via a ranking window — the exact
baseline every ANN variant is judged against.

IVF: k centroids (deterministic seed rows or provided), each vector assigned
to its nearest centroid map-side; a query probes `nprobe` nearest cells only.
At 100 TB the corpus is partitioned by cell id, so a probe touches
nprobe/k of the data — the classic IVF trade.  No Python in the scoring
path; everything is higher-order-function column math.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from tostore_spark.broadcast import broadcast, fits
from tostore_spark.localdf import local_df
from tostore_spark.pin import pin
from tostore_spark.vector import _sqld


def _dot_cols(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _dot_const_sql(field: str, vals) -> str:
    """SQL-text twin of ``_dot_cols(col, array(lits))``: same Catalyst tree
    through ONE parser call — per-centroid py4j chains (~dim calls each)
    dominate driver time when building 8-64 centroid distances."""
    arr = "array(" + ",".join(_sqld(v) for v in vals) + ")"
    return (f"aggregate(zip_with(`{field}`, {arr},"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " 0.0D, (acc, x) -> acc + x)")


def _norm_sql(field: str) -> str:
    """SQL-text twin of ``_norm(F.col(field))`` — the identical Catalyst
    tree through ONE parser call.  Each Column higher-order-function
    build costs ~18ms of py4j round trips, which dominates the
    plan-construction time of the graph/knn loops (measured r18)."""
    return (f"SQRT(aggregate(`{field}`, 0.0D, (acc, x) -> "
            f"acc + (CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")


def _dot_sql(a: str, b: str) -> str:
    """SQL-text twin of ``_dot_cols(F.col(a), F.col(b))``."""
    return (f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> "
            f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
            f"(acc, x) -> acc + x)")


def _cos_prenorm_sql(a: str, b: str, an: str, bn: str) -> str:
    """SQL-text twin of ``cosine_distance_prenorm`` over plain field
    names (norm columns precomputed per row)."""
    return f"1.0D - {_dot_sql(a, b)} / (`{an}` * `{bn}`)"


def _cos_sql(a: str, b: str) -> str:
    """SQL-text twin of ``cosine_distance_cols`` over plain field names."""
    return f"1.0D - {_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})"


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine_distance_cols(a: Column, b: Column) -> Column:
    return F.lit(1.0) - _dot_cols(a, b) / (_norm(a) * _norm(b))


def cosine_distance_prenorm(a: Column, b: Column,
                            an: Column, bn: Column) -> Column:
    """``cosine_distance_cols`` with the norms PRECOMPUTED as columns.
    Higher-order-function aggregates cost ~per-element interpreter
    overhead, and the plain form re-derives BOTH norms per PAIR — on a
    blocked self-join that is |cell| recomputations of each row's norm
    (measured r11: the 500k-pair graph-build kNN stage spends ~2/3 of
    its 6.5s there).  Passing ``_norm(v)`` computed once per ROW cuts
    the HOF work to the dot product alone.  Bit-identical: same
    ``sqrt(aggregate(...))`` expression on the same array, same
    multiplication order."""
    return F.lit(1.0) - _dot_cols(a, b) / (an * bn)


def l2_distance_cols(a: Column, b: Column) -> Column:
    return F.sqrt(F.aggregate(F.zip_with(a, b, lambda x, y:
                                         (x.cast("double") - y.cast("double"))
                                         * (x.cast("double") - y.cast("double"))),
                              F.lit(0.0), lambda acc, x: acc + x))


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = 10,
             query_vec: str = "embedding", corpus_vec: str = "embedding",
             query_id: str = "vec_id", corpus_id: str = "vec_id",
             metric: str = "cosine", exclude_self: bool = True) -> DataFrame:
    """Brute-force k-NN join: for every query row, the k nearest corpus rows.

    Output: (query_id, neighbor_id, distance, rank).  The query side is
    broadcast; the corpus side streams — one pass, then a per-query top-k
    window (rank ties broken by neighbor id for determinism).
    """
    from tostore_spark.llmops.dedup import _spread
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(query_vec).alias("__qv"))
    # the corpus side STREAMS the whole scan through the O(dim) distance
    # per pair — at bench scale a small table arrives as ONE file
    # partition, serializing the entire scoring loop on one core
    # (measured: the graph-build kNN stage 3.0s -> 0.3s once spread).
    # ``_spread`` is a no-op when the scan already splits wide (guide
    # §2.2: scale-adaptive parallelism, not a constant).
    c = _spread(corpus.select(F.col(corpus_id).alias("neighbor_id"),
                              F.col(corpus_vec).alias("__cv")))
    if metric == "cosine":
        # norms once per ROW, not per (query x corpus) pair
        # (cosine_distance_prenorm doc; bit-identical values); SQL-text
        # twins — one parse instead of per-lambda py4j chains
        q = q.withColumn("__qn", F.expr(_norm_sql("__qv")))
        c = c.withColumn("__cn", F.expr(_norm_sql("__cv")))
    # the query side: Python-row queries have no estimate
    joined = c.crossJoin(broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    if metric == "cosine":
        scored = joined.selectExpr(
            "query_id", "neighbor_id",
            _cos_prenorm_sql("__qv", "__cv", "__qn", "__cn")
            + " AS distance")
    else:
        scored = joined.select(
            "query_id", "neighbor_id",
            l2_distance_cols(F.col("__qv"), F.col("__cv"))
            .alias("distance"))
    return topk_per_query(scored, k)


def topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Exact top-k over (query_id, neighbor_id, distance) rows as ONE
    row_number window.  Spark >= 3.5 plants a map-side WindowGroupLimit
    (Partial) BELOW the exchange for rank-like windows filtered to
    rank <= k, so every map task forwards at most k rows per query_id —
    the same bounded-reducer property the previous manual two-stage
    form (a spark_partition_id pre-rank) bought with a SECOND full
    exchange+sort of the scored pairs (and the optimizer was ALREADY
    group-limiting that form's final window, so the pre-stage was pure
    overhead: plan-measured one Exchange/Sort/Window triple per call).
    Same rows, same ranks: (distance, neighbor_id) is a total order, so
    the single window's top-k equals the two-stage result bit-for-bit."""
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def kmeans_centroids(corpus: DataFrame, n_cells: int,
                     vec_field: str = "embedding", id_field: str = "vec_id",
                     sample_per_cell: int = 64,
                     iterations: int = 10) -> list[tuple[int, list[float]]]:
    """Deterministic spherical k-means centroids from a bounded sample.

    Sample = the first ``n_cells * sample_per_cell`` rows ordered by
    md5(id) — a deterministic pseudo-random draw that is reproducible in
    SQL and insensitive to id/content correlation (the previous
    first-N-by-id seeding produced lopsided cells).  Lloyd iterations run
    driver-side in numpy over the sample only, so the cost is independent
    of corpus size; the full-corpus assignment stays a map-side Column
    expression."""
    import numpy as np

    sample = (corpus
              .orderBy(F.md5(F.col(id_field).cast("string")).asc(),
                       F.col(id_field).asc())
              .select(vec_field)
              .take(n_cells * sample_per_cell))
    if not sample:
        raise ValueError("kmeans_centroids: corpus is empty")
    X = np.array([[float(x) for x in r[vec_field]] for r in sample], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Xn = X / norms
    # A corpus smaller than the requested cell count gets one cell per
    # row instead of an IndexError at seeding time.
    n_cells = min(n_cells, len(Xn))
    cents = Xn[:n_cells].copy()
    for _ in range(iterations):
        sims = Xn @ cents.T                      # cosine sim to each centroid
        assign = np.argmax(sims, axis=1)
        for c in range(n_cells):
            members = Xn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return [(i, [float(x) for x in cents[i]]) for i in range(n_cells)]


def ivf_build(corpus: DataFrame, n_cells: int = 16, vec_field: str = "embedding",
              id_field: str = "vec_id",
              centroids: Optional[list[tuple[int, list[float]]]] = None,
              ) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Assign each vector to its nearest of `n_cells` centroids (cosine).

    Centroids default to deterministic spherical k-means over a bounded
    sample (``kmeans_centroids``); the assignment itself is a map-side
    Column expression — no shuffle, no Python in the scoring path.
    Returns (corpus + cell_id column, centroid list).
    """
    import math

    cents = centroids if centroids is not None else kmeans_centroids(
        corpus, n_cells, vec_field=vec_field, id_field=id_field)
    # argmin via a distance array + array_position: flat expression, one
    # distance evaluation per centroid.  (A chained when(d < best_dist)
    # fold duplicates each distance expression exponentially in depth.)
    # ||v|| is staged as a column (referenced per centroid, no CSE in
    # expressions) and centroid norms are plain Python constants.
    corpus = corpus.withColumn("__nv", F.expr(_norm_sql(vec_field)))
    dexprs = ", ".join(
        f"1.0D - {_dot_const_sql(vec_field, cent)}"
        f" / (`__nv` * {_sqld(math.sqrt(sum(x * x for x in cent)) or 1.0)})"
        for _, cent in cents)
    staged = corpus.withColumn("__cell_dists", F.expr(f"array({dexprs})"))
    out = (staged.withColumn(
        "cell_id",
        (F.array_position(F.col("__cell_dists"),
                          F.array_min(F.col("__cell_dists"))) - 1).cast("int"))
        .drop("__cell_dists", "__nv"))
    return out, cents


def ef_search_to_nprobe(ef_search: int, n_cells: int, n_rows: int) -> int:
    """Map the reference's ``efSearch`` knob to IVF ``nprobe``.

    In the reference's graph ANN (ngh_graph_engine.dart:14-80) efSearch is
    the candidate-pool size: the search keeps a beam of efSearch candidates
    and recall grows with it.  The IVF analog of "examine ~efSearch
    candidates" is probing enough cells that the expected number of scanned
    vectors — nprobe * (n_rows / n_cells) — reaches efSearch:

        nprobe = clamp(ceil(efSearch * n_cells / n_rows), 1, n_cells)

    efSearch >= n_rows degenerates to an exact scan (all cells), matching
    the reference's own behavior of exact search when the beam covers the
    corpus."""
    import math

    avg_cell = max(1, int(n_rows) // max(1, n_cells))
    return max(1, min(n_cells, math.ceil(ef_search / avg_cell)))


def ivf_search(indexed: DataFrame, centroids: list[tuple[int, list[float]]],
               query_vector: Sequence[float], k: int = 10, nprobe: int = 2,
               vec_field: str = "embedding", id_field: str = "vec_id") -> DataFrame:
    """Probe the `nprobe` nearest cells, exact-rank inside them.  When the
    index was persisted with ``ivf_write_index`` the isin(cell_id) filter is
    a partition-pruning predicate — a probe reads nprobe/n_cells of the
    files, the IVF trade."""
    import math

    def cos_d(a: Sequence[float], b: Sequence[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return 1.0 - dot / (na * nb)

    probe = sorted(centroids, key=lambda c: cos_d(c[1], list(query_vector)))[:nprobe]
    cells = [cid for cid, _ in probe]
    from tostore_spark.vector import vector_search
    return vector_search(indexed.filter(F.col("cell_id").isin(cells)),
                         vec_field, query_vector, top_k=k, metric="cosine",
                         pk=id_field)


def probe_cells_column(vec_col, norm_col,
                       centroids: list[tuple[int, list[float]]],
                       nprobe: int) -> Column:
    """The ``nprobe`` nearest cell ids for a vector, as a pure Column
    expression (array_sort over (distance, cell_id) structs — ties break
    on cell id, identically in Spark and DuckDB's struct sort).  Column
    args or plain field names; names build via one SQL parse."""
    import math

    if isinstance(vec_col, str) and isinstance(norm_col, str):
        structs = ", ".join(
            "named_struct('d', 1.0D - {dot} / (`{nc}` * {cn}), 'c', {cid})"
            .format(dot=_dot_const_sql(vec_col, cent), nc=norm_col,
                    cn=_sqld(math.sqrt(sum(x * x for x in cent)) or 1.0),
                    cid=int(cid))
            for cid, cent in centroids)
        return F.expr(f"transform(slice(array_sort(array({structs})),"
                      f" 1, {int(nprobe)}), s -> s.c)")
    structs = []
    for cid, cent in centroids:
        cn = math.sqrt(sum(x * x for x in cent)) or 1.0
        d = (F.lit(1.0)
             - _dot_cols(vec_col, F.array(*[F.lit(float(x)) for x in cent]))
             / (norm_col * F.lit(cn)))
        structs.append(F.struct(d.alias("d"), F.lit(int(cid)).alias("c")))
    ranked = F.slice(F.array_sort(F.array(*structs)), 1, nprobe)
    return F.transform(ranked, lambda s: s["c"])


def ivf_search_many(indexed: DataFrame,
                    centroids: list[tuple[int, list[float]]],
                    queries: DataFrame, k: int = 10, nprobe: int = 2,
                    vec_field: str = "embedding", id_field: str = "vec_id",
                    query_vec: Optional[str] = None,
                    query_id: Optional[str] = None,
                    exclude_self: bool = False) -> DataFrame:
    """Batch IVF search: thousands of query vectors in ONE distributed
    plan — the eval/dedup-pipeline shape that a per-query ``ivf_search``
    driver loop cannot serve.

    Each query row computes its ``nprobe`` nearest cells map-side
    (``probe_cells_column``), and the query side folds to ONE row per
    probed cell (``collect_list`` of (query_id, vec, norm) bundles)
    before broadcasting into the join with the indexed corpus on
    ``cell_id``.  Over a PERSISTED index (``ivf_write_index`` →
    cell_id-partitioned parquet) Spark's dynamic partition pruning turns
    that join into a partition filter, so the scan reads only probed
    cells — same pruning the single-query isin() path gets, at batch
    scale.  Exact cosine + two-stage top-k on the probed candidates; a
    corpus row lives in exactly one cell, so no candidate is scored twice.

    Norm placement (r11-verdict order, sharpened): the corpus-side norm
    ``__cn`` projects ABOVE the probe join and BELOW the bundle explode.
    Above the join, the O(dim) norm runs only for corpus rows in probed
    cells (∝ probed fraction, not corpus size — at nprobe 4 of 160
    cells that is 2.5% of the rows the old below-join placement paid);
    and because the per-cell fold makes the join at most 1:1 per corpus
    row, it runs once per probed ROW even when many queries probe the
    same cell — a plain above-join projection would re-run it per
    (query, row) PAIR, which for batches larger than n_cells/nprobe
    queries costs more than the corpus-wide scan it was saving.  Same
    expression either way: bit-identical distances.

    Output: (query_id, neighbor_id, distance, rank)."""
    query_vec = query_vec or vec_field
    query_id = query_id or id_field
    q = (queries.select(F.col(query_id).alias("query_id"),
                        F.col(query_vec).alias("__qv"))
         .withColumn("__qn", _norm(F.col("__qv")))
         .withColumn("cell_id",
                     F.explode(probe_cells_column("__qv", "__qn", centroids,
                                                  nprobe))))
    qb = q.groupBy("cell_id").agg(
        F.collect_list(F.struct("query_id", "__qv", "__qn")).alias("__qs"))
    c = indexed.select(F.col(id_field).alias("neighbor_id"),
                       F.col(vec_field).alias("__cv"), "cell_id")
    # the query side: unhinted, the planner builds the smaller corpus
    probed = (c.join(broadcast(qb), on="cell_id")
               .withColumn("__cn", _norm(F.col("__cv"))))
    pairs = probed.select("neighbor_id", "__cv", "__cn",
                          F.explode("__qs").alias("__q"))
    if exclude_self:
        pairs = pairs.filter(
            F.col("__q.query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        F.col("__q.query_id").alias("query_id"), "neighbor_id",
        cosine_distance_prenorm(F.col("__q.__qv"), F.col("__cv"),
                                F.col("__q.__qn"), F.col("__cn"))
        .alias("distance"))
    return topk_per_query(scored, k)


def ivf_measure_recall(indexed: DataFrame,
                       centroids: list[tuple[int, list[float]]],
                       k: int = 10, nprobe: int = 2, n_queries: int = 50,
                       vec_field: str = "embedding",
                       id_field: str = "vec_id") -> float:
    """MEASURED recall@k of this index on this corpus — not extrapolated
    from test scale.  A deterministic md5-ordered sample of ``n_queries``
    corpus vectors runs through batch IVF and the exact brute-force
    ``knn_join`` (two distributed plans, no driver loop), and recall is
    the matched fraction of exact top-k hits.  Run this after every index
    build/append at production scale; the probe cost is the same
    partition-pruned shape as a real search."""
    queries = (indexed
               .orderBy(F.md5(F.col(id_field).cast("string")).asc(),
                        F.col(id_field).asc())
               .limit(n_queries)
               .select(id_field, vec_field))
    approx = ivf_search_many(indexed, centroids, queries, k=k,
                             nprobe=nprobe, vec_field=vec_field,
                             id_field=id_field, exclude_self=True)
    exact = knn_join(queries, indexed, k=k, query_vec=vec_field,
                     corpus_vec=vec_field, query_id=id_field,
                     corpus_id=id_field, metric="cosine",
                     exclude_self=True)
    hits = (exact.select("query_id", "neighbor_id")
            .join(approx.select("query_id", "neighbor_id"),
                  on=["query_id", "neighbor_id"]).count())
    denom = exact.count()
    return hits / denom if denom else 1.0


def fixed_centroids(dim: int, n_cells: int,
                    seed: int = 42) -> list[tuple[int, list[float]]]:
    """Deterministic data-independent unit centroids (LCG — the same
    generator as vector.random_hyperplanes, normalized).  For
    oracle-reproducible IVF runs and cold-start indexes; production
    indexes use kmeans_centroids."""
    import math

    from tostore_spark.vector import random_hyperplanes

    cents = []
    for i, row in enumerate(random_hyperplanes(dim, n_cells, seed=seed)):
        n = math.sqrt(sum(x * x for x in row)) or 1.0
        cents.append((i, [x / n for x in row]))
    return cents


def ivf_write_index(indexed: DataFrame,
                    centroids: list[tuple[int, list[float]]],
                    path: str, n_rows: Optional[int] = None,
                    id_field: str = "vec_id") -> str:
    """Persist the IVF index: the assigned corpus partitioned by cell_id
    (so a probe prunes to nprobe directories) plus a centroid sidecar —
    the build-once-search-many lifecycle of the reference's persisted NGH
    index (ngh_graph_engine.dart:14-80), in parquet form.  ``n_rows`` is
    recorded so a later ``efSearch`` can be mapped to ``nprobe``;
    ``id_field`` so later tombstone deletes know the key column."""
    import json
    import os

    indexed.write.mode("overwrite").partitionBy("cell_id") \
           .parquet(os.path.join(path, "cells"))
    with open(os.path.join(path, "centroids.json"), "w") as f:
        json.dump({"centroids": centroids, "n_rows": n_rows,
                   "id_field": id_field}, f)
    return path


def ivf_append(spark, path: str, new_vectors: DataFrame,
               vec_field: str = "embedding",
               id_field: Optional[str] = None) -> int:
    """Incremental insert (the reference's NGH incremental insert,
    ngh_graph_engine.dart:14-80): assign ONLY the new batch to the
    existing centroids map-side and append its rows to the cell_id
    partitions.  The already-indexed corpus is never rescanned or
    rewritten — the append touches only the new rows' partitions.
    Centroids are intentionally frozen (same contract as the persisted
    graph: geometry fixed at build; rebuild when drift warrants).
    Returns the number of rows appended and updates the n_rows sidecar
    so efSearch→nprobe stays honest."""
    import os

    meta = ivf_index_meta(path)
    cents = [(int(c), [float(x) for x in v]) for c, v in meta["centroids"]]
    id_field = id_field or meta.get("id_field", "vec_id")
    assigned, _ = ivf_build(new_vectors, centroids=cents,
                            vec_field=vec_field, id_field=id_field)
    n = assigned.count()
    assigned.write.mode("append").partitionBy("cell_id") \
            .parquet(os.path.join(path, "cells"))
    ivf_update_meta(path, n_rows=(meta.get("n_rows") or 0) + n)
    return n


def ivf_delete(spark, path: str, ids) -> int:
    """Tombstone delete (the reference's NGH tombstone delete): the ids
    are appended to a tiny tombstone sidecar; every read/search path
    anti-joins it, so deleted vectors stop matching immediately without
    touching the index data.  ``ivf_compact`` later rewrites ONLY the
    affected cell partitions.  ``ids`` is a list or a one-column
    DataFrame.  Returns the tombstones added."""
    import os

    if isinstance(ids, DataFrame):
        tomb = ids.toDF("__del_id")
    else:
        tomb = local_df(spark, [(i,) for i in ids], ["__del_id"])
    n = tomb.count()
    tomb.write.mode("append").parquet(os.path.join(path, "tombstones"))
    meta = ivf_index_meta(path)
    if meta.get("n_rows"):
        ivf_update_meta(path, n_rows=max(0, meta["n_rows"] - n))
    return n


def _ivf_tombstones(spark, path: str) -> Optional[DataFrame]:
    import os

    tdir = os.path.join(path, "tombstones")
    if not os.path.isdir(tdir):
        return None
    return spark.read.parquet(tdir)


def ivf_compact(spark, path: str) -> int:
    """Fold tombstones into the data: rewrite ONLY the cell partitions
    that contain a tombstoned row (dynamic partition overwrite — the
    other nprobe-pruned directories are untouched, so compaction cost
    tracks the deleted set, not the index size), then drop the sidecar.
    Returns the number of rows physically removed."""
    import os
    import shutil

    tomb = _ivf_tombstones(spark, path)
    if tomb is None:
        return 0
    meta = ivf_index_meta(path)
    id_field = meta.get("id_field", "vec_id")
    cells = spark.read.parquet(os.path.join(path, "cells"))
    hit = cells.join(tomb, cells[id_field] == tomb["__del_id"], "semi")
    affected = [r["cell_id"] for r in hit.select("cell_id").distinct().collect()]
    if not affected:
        shutil.rmtree(os.path.join(path, "tombstones"))
        return 0
    removed = hit.count()
    survivors = (cells.filter(F.col("cell_id").isin(affected))
                 .join(tomb, cells[id_field] == tomb["__del_id"],
                       "left_anti"))
    conf = spark.conf
    prev = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # eager: the overwrite must not read the directories it is
        # replacing (pin module docstring, "Source files")
        pinned = pin(survivors, eager=True)
        pinned.write.mode("overwrite") \
              .partitionBy("cell_id").parquet(os.path.join(path, "cells"))
        # dynamic overwrite only replaces partitions PRESENT in the write:
        # a cell whose every row was tombstoned writes nothing and would
        # silently keep its dead files — drop those directories explicitly
        alive = {r["cell_id"] for r in
                 pinned.select("cell_id").distinct().collect()}
        for c in set(affected) - alive:
            shutil.rmtree(os.path.join(path, "cells", f"cell_id={c}"),
                          ignore_errors=True)
    finally:
        conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    shutil.rmtree(os.path.join(path, "tombstones"))
    return removed


def ivf_index_meta(path: str) -> dict:
    """Sidecar metadata of a persisted index (centroids, n_rows)."""
    import json
    import os

    with open(os.path.join(path, "centroids.json")) as f:
        return json.load(f)


def ivf_update_meta(path: str, **fields) -> None:
    """Merge fields (e.g. n_rows counted after the write) into the
    sidecar."""
    import json
    import os

    meta = ivf_index_meta(path)
    meta.update(fields)
    with open(os.path.join(path, "centroids.json"), "w") as f:
        json.dump(meta, f)


def ivf_read_index(spark, path: str
                   ) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Load a persisted IVF index: (partition-pruned corpus, centroids).
    Tombstoned ids (``ivf_delete``) are anti-joined out here, so every
    search path — single-probe, batch, recall measurement — sees deletes
    immediately; ``ivf_compact`` makes them physical."""
    import json
    import os

    df = spark.read.parquet(os.path.join(path, "cells"))
    with open(os.path.join(path, "centroids.json")) as f:
        meta = json.load(f)
    tomb = _ivf_tombstones(spark, path)
    if tomb is not None:
        id_field = meta.get("id_field", "vec_id")
        df = df.join(tomb, df[id_field] == tomb["__del_id"], "left_anti")
    raw = meta["centroids"]
    return df, [(int(cid), [float(x) for x in vec]) for cid, vec in raw]


# ---------------------------------------------------------------------------
# Vamana-lite graph ANN: batch-built k-NN graph + bounded beam search.
#
# Reference scope: ngh_graph_engine.dart:14-80 builds a navigable graph
# incrementally and beam-searches it.  The batch re-expression: the
# graph is ONE distributed build (blocked exact kNN per IVF cell +
# cross-cell bridge edges to per-cell hub nodes for navigability),
# stored as a plain (node_id, neighbor_id, distance) neighbors table;
# search is a driver-bounded loop of shuffled hash joins (frontier x
# neighbors -> score -> top-ef beam), never a per-row traversal.  At
# 100 TB the neighbors table is corpus x degree rows partitioned by
# node_id, and each hop moves |queries| * ef * degree rows — bounded
# by the knobs, independent of corpus size.
# ---------------------------------------------------------------------------


def _md5_rank(df: DataFrame, id_col: str = "node_id"
              ) -> tuple[DataFrame, int]:
    """Dense 0-based rank of rows in (md5(id), id) order WITHOUT a global
    sort (one reducer at 100 TB): md5-prefix buckets rank locally (256
    key-partitioned spillable windows) and bucket offsets fold in as a
    <=256-entry broadcast map — ordering by (bucket, md5, id) equals
    (md5, id) because the bucket IS the md5 prefix.  The md5 rank is a
    deterministic random permutation: ring edges over it are RANDOM
    LONG-RANGE links, reproducible in SQL.  Returns (frame with column
    ``__r``, total rows) — the total falls out of the bucket-size
    collect, so ring callers never pay a separate count job."""
    h = F.md5(F.col(id_col).cast("string"))
    bucketed = df.withColumn("__h", h) \
                 .withColumn("__b", F.substring("__h", 1, 2))
    sizes = {r["__b"]: r["n"] for r in
             bucketed.groupBy("__b").agg(F.count(F.lit(1)).alias("n"))
                     .collect()}
    offs, acc = {}, 0
    for bk in sorted(sizes):
        offs[bk] = acc
        acc += sizes[bk]
    # single-parse map literal: the Column form (create_map over ~512
    # F.lit calls) cost ~0.25s of py4j round trips per build — one
    # SQL parse builds the identical map<string,bigint> literal (keys
    # are 2-char hex, values Python ints → bigint both ways)
    off_map = F.expr("map(" + ", ".join(
        f"'{bk}', {offs[bk]}L" for bk in sorted(offs)) + ")")
    local_w = Window.partitionBy("__b").orderBy(F.col("__h").asc(),
                                                F.col(id_col).asc())
    ranked = (bucketed
              .withColumn("__r", F.element_at(off_map, F.col("__b"))
                          + F.row_number().over(local_w) - 1)
              .drop("__h", "__b"))
    return ranked, acc


def _ring_edges(ranked: DataFrame, n_rows: int,
                ring_skips: Sequence[int]) -> DataFrame:
    """Ring+skip edges over an ``_md5_rank``-ed frame (node_id, __v, __r):
    rank r links to (r + s) mod n for each skip s, scored exactly."""
    tgt = ranked.select(F.col("node_id").alias("neighbor_id"),
                        F.col("__v").alias("__tv"),
                        F.col("__r").alias("__tr"))
    ring = None
    dist_sql = f"{_cos_sql('__v', '__tv')} AS distance"
    for s in ring_skips:
        src = ranked.withColumn(
            "__tr", (F.col("__r") + F.lit(int(s))) % F.lit(int(n_rows)))
        e = (src.join(tgt, on="__tr")
                .filter(F.col("node_id") != F.col("neighbor_id"))
                .selectExpr("node_id", "neighbor_id", dist_sql))
        ring = e if ring is None else ring.unionByName(e)
    return ring


def robust_prune(edges: DataFrame, vectors: DataFrame,
                 max_degree: int = 8, alpha: float = 1.2,
                 min_keep: int = 1, vec_field: str = "embedding",
                 id_field: str = "vec_id") -> DataFrame:
    """Batch robust prune (the edge-selection ingredient of Vamana /
    DiskANN and the reference's incremental graph maintenance,
    ngh_graph_engine.dart:14-80): for each node u, drop a candidate
    edge u->v when a CLOSER candidate w already covers v's direction —
    ``alpha * d(w, v) <= d(u, v)`` — then cap the survivors at
    ``max_degree``.  Keeping only direction-DIVERSE neighbors is what
    lifts recall on structureless corpora, where a plain kNN edge set
    wastes the whole degree budget on one tight clique.

    Two-round batch form (the sequential greedy's kept-set recursion
    doesn't batch): round 1 computes the one-shot veto — ``w`` ranges
    over ALL closer candidates; round 2 re-vetoes with ONLY round-1
    survivors as ``w``, so a candidate that is itself covered cannot
    knock out a diverse edge.  PRE-cap, the kept set equals the
    paper's greedy for coverage chains of depth <= 2 (the practical
    case for the bounded pools fed here) and is a SUPERSET of greedy
    beyond that (property-pytest-pinned); the ``max_degree`` cap then
    keeps the closest survivors — which, on the superset, can admit a
    closer redundant edge in place of a farther greedy-kept one.
    ``min_keep`` additionally floors the closest edges
    unconditionally.  Wholly
    SQL-expressible (two nested NOT-EXISTS — the oracle path), all JVM
    column math: cost is sum over nodes of degree^2 pair rows — linear
    in corpus for bounded candidate degrees.

    ``edges``: (node_id, neighbor_id, distance) candidates;
    ``vectors``: (id_field, vec_field) for the neighbor endpoints.
    Ties break on neighbor id everywhere, so the pruned edge set is
    deterministic and engine-portable."""
    vecs = vectors.select(F.col(id_field).alias("__vid"),
                          F.col(vec_field).alias("__vv"))
    w = Window.partitionBy("node_id").orderBy(F.col("distance").asc(),
                                              F.col("neighbor_id").asc())
    ranked = edges.withColumn("__rk", F.row_number().over(w))
    # reused by both rounds
    v_side = pin(ranked.join(vecs, ranked["neighbor_id"] == vecs["__vid"])
                       .select("node_id", "neighbor_id", "distance", "__rk",
                               F.col("__vv").alias("__nbv"))
                       .withColumn("__nbn", _norm(F.col("__nbv"))))
    w_side = v_side.select(F.col("node_id").alias("__wn"),
                           F.col("neighbor_id").alias("__wid"),
                           F.col("__rk").alias("__wrk"),
                           F.col("__nbv").alias("__wv"),
                           F.col("__nbn").alias("__wn2"))
    # covering pairs (computed ONCE, filtered per round): w closer than
    # v and alpha * d(w, v) <= d(u, v); norms precomputed per edge row
    # (cosine_distance_prenorm doc), never per degree^2 pair
    covers = pin(v_side.join(w_side,
                             (v_side["node_id"] == w_side["__wn"])
                             & (w_side["__wrk"] < v_side["__rk"]))
              .filter(F.lit(float(alpha))
                      * cosine_distance_prenorm(
                          F.col("__wv"), F.col("__nbv"),
                          F.col("__wn2"), F.col("__nbn"))
                      <= F.col("distance"))
              .select("node_id", "neighbor_id", "__wid"))
    veto1 = covers.select("node_id", "neighbor_id").distinct()
    kept1 = (v_side.join(veto1, on=["node_id", "neighbor_id"],
                         how="left_anti")
                   .select("node_id",
                           F.col("neighbor_id").alias("__wid")))
    veto2 = (covers.join(kept1, on=["node_id", "__wid"], how="semi")
                   .select("node_id", "neighbor_id").distinct())
    kept = (v_side.join(veto2, on=["node_id", "neighbor_id"],
                        how="left_anti")
                  .unionByName(v_side.filter(F.col("__rk")
                                             <= int(min_keep)))
                  .select("node_id", "neighbor_id", "distance")
                  .distinct())
    w2 = Window.partitionBy("node_id").orderBy(F.col("distance").asc(),
                                               F.col("neighbor_id").asc())
    return (kept.withColumn("__rk2", F.row_number().over(w2))
                .filter(F.col("__rk2") <= int(max_degree))
                .drop("__rk2"))


def build_knn_graph(corpus: DataFrame, n_neighbors: int = 8,
                    n_cells: int = 16, vec_field: str = "embedding",
                    id_field: str = "vec_id",
                    centroids: Optional[list[tuple[int, list[float]]]] = None,
                    bridge_cells: int = 1,
                    ring_skips: Sequence[int] = (1, 7, 49),
                    prune_alpha: Optional[float] = None,
                    knn_pool: Optional[int] = None
                    ) -> tuple[DataFrame, DataFrame]:
    """Batch-build a navigable k-NN graph (Vamana-lite).

    Edges, three deterministic sets:

    (a) the exact ``n_neighbors`` nearest SAME-CELL members per node
        (blocked kNN: a cell_id-partitioned self-join — sum of
        |cell|^2 pair scores, never corpus^2) — the short edges greedy
        descent converges on;
    (b) one edge per node to the HUB of each of its ``bridge_cells``
        nearest FOREIGN cells (hub = the cell member nearest its own
        centroid, id tie-break) — medium-range structure links;
    (c) ring+skip edges over the md5 ordering of node ids: the node at
        md5-rank r links to ranks (r + s) mod n for each s in
        ``ring_skips``.  The md5 rank is a deterministic random
        permutation, so these are RANDOM LONG-RANGE links — the role
        Vamana's alpha-pruned far edges play.  They are what makes the
        graph NAVIGABLE: (a)+(b) alone leave any tight cluster without
        a hub member unreachable (cluster-internal kNN cliques have no
        incoming edges — measured as 0.18 recall on the clustered
        fixture), while the s=1 ring alone already makes the directed
        graph strongly connected, and the larger skips give the beam
        O(log n)-style shortcuts into every neighborhood.

    Returns ``(graph, hubs)``: graph as (node_id, neighbor_id,
    distance) with exact-duplicate edges (a ring target that is also a
    kNN neighbor) deduplicated, and hubs as (cell_id, hub_id), the
    default search seed set.

    ``prune_alpha`` turns on robust edge selection (``robust_prune``):
    the same-cell kNN stage widens to a ``knn_pool`` candidate pool
    (default ``3 * n_neighbors``) and is alpha-pruned back down to
    ``n_neighbors`` direction-DIVERSE edges per node.  Bridge and ring
    edges are never pruned — they carry the connectivity guarantees
    (the s=1 ring alone keeps the graph strongly connected), while the
    prune fixes the LOCAL edge quality the md5 ring can't (the measured
    flat-corpus recall gap).  Off by default: the unpruned build is the
    committed oracle shape.

    Determinism: all ties break on id; with ``fixed_centroids`` the
    whole build — cells, hubs, bridges, md5 ring, prune — is
    reproducible in SQL (the oracle entry's path).
    """
    import math

    indexed, cents = ivf_build(corpus, n_cells=n_cells,
                               vec_field=vec_field, id_field=id_field,
                               centroids=centroids)
    # spread BEFORE the pin: a small corpus arrives as one file
    # partition and the pin keeps that layout, so the |cell|^2
    # kNN scoring below would run on ONE core (measured 3.0s -> 0.3s
    # at sf0.1).  No-op when the scan already splits >= cores wide.
    from tostore_spark.llmops.dedup import _spread
    # reused 3x below
    base = pin(_spread(indexed)
               .select(F.col(id_field).alias("node_id"),
                       F.col(vec_field).alias("__v"), "cell_id")
               .withColumn("__nv", F.expr(_norm_sql("__v"))))

    # (a) blocked exact kNN inside each cell — norms precomputed per
    # ROW (base.__nv), never per pair (cosine_distance_prenorm doc)
    a = base.select(F.col("node_id").alias("query_id"),
                    F.col("__v").alias("__av"),
                    F.col("__nv").alias("__an"), "cell_id")
    b = base.select(F.col("node_id").alias("neighbor_id"),
                    F.col("__v").alias("__bv"),
                    F.col("__nv").alias("__bn"), "cell_id")
    scored = (a.join(b, on="cell_id")
               .filter(F.col("query_id") != F.col("neighbor_id"))
               .selectExpr("query_id", "neighbor_id",
                           _cos_prenorm_sql("__av", "__bv",
                                            "__an", "__bn")
                           + " AS distance"))
    pool = (int(knn_pool) if knn_pool is not None
            else (3 * n_neighbors if prune_alpha is not None
                  else n_neighbors))
    knn = (topk_per_query(scored, pool)
           .select(F.col("query_id").alias("node_id"), "neighbor_id",
                   "distance"))
    if prune_alpha is not None:
        knn = robust_prune(
            knn, base.select(F.col("node_id").alias(id_field),
                             F.col("__v").alias(vec_field)),
            max_degree=n_neighbors, alpha=prune_alpha,
            vec_field=vec_field, id_field=id_field)

    # per-cell hubs: member nearest its OWN centroid (id tie-break)
    dexprs = ", ".join(
        f"1.0D - {_dot_const_sql('__v', cent)}"
        f" / (`__nv` * {_sqld(math.sqrt(sum(x * x for x in cent)) or 1.0)})"
        for _, cent in cents)
    with_d = base.withColumn("__cds", F.expr(f"array({dexprs})")) \
                 .withColumn("__own",
                             F.element_at("__cds", F.col("cell_id") + 1))
    hub_w = Window.partitionBy("cell_id").orderBy(
        F.col("__own").asc(), F.col("node_id").asc())
    hubs = (with_d.withColumn("__hr", F.row_number().over(hub_w))
                  .filter(F.col("__hr") == 1)
                  .select("cell_id", F.col("node_id").alias("hub_id")))

    # (b) bridge edges: node -> hub of each of its bridge_cells nearest
    # FOREIGN cells (probe order includes the own cell; skip it)
    probes = with_d.select(
        "node_id", "__v", "cell_id",
        F.posexplode(probe_cells_column("__v", "__nv", cents,
                                        int(bridge_cells) + 1))
         .alias("__pos", "__bc"))
    rank_w = Window.partitionBy("node_id").orderBy(F.col("__pos").asc())
    foreign = (probes.filter(F.col("__bc") != F.col("cell_id"))
                     .withColumn("__fr", F.row_number().over(rank_w))
                     .filter(F.col("__fr") <= int(bridge_cells)))
    hub_vecs = (hubs.join(base.select(F.col("node_id").alias("hub_id"),
                                      F.col("__v").alias("__hv")),
                          on="hub_id")
                    .select(F.col("cell_id").alias("__bc"), "hub_id",
                            "__hv"))
    # n_cells rows, sized by the planner as a join product
    bridges = (foreign.join(broadcast(hub_vecs), on="__bc")
                      .selectExpr("node_id",
                                  "hub_id AS neighbor_id",
                                  f"{_cos_sql('__v', '__hv')} AS distance"))

    # (c) md5-rank ring + skips: deterministic random long-range edges
    # (``_md5_rank``: bucketed local windows + broadcast offsets — no
    # global sort reducer at 100 TB)
    ranked, n_rows = _md5_rank(base.select("node_id", "__v"))
    ranked = ranked.select("node_id", "__v", "__r")
    ring = _ring_edges(ranked, n_rows, ring_skips)
    # a ring target can coincide with a kNN neighbor or a hub bridge —
    # same pair, same exact distance — keep each edge once
    graph = (knn.unionByName(bridges).unionByName(ring)
                .groupBy("node_id", "neighbor_id")
                .agg(F.min("distance").alias("distance")))
    return graph, hubs


def graph_refine(graph: DataFrame, corpus: DataFrame, seeds: DataFrame,
                 n_neighbors: int = 8, ef: int = 16, max_hops: int = 3,
                 alpha: float = 1.2,
                 ring_skips: Sequence[int] = (1, 7, 49),
                 vec_field: str = "embedding",
                 id_field: str = "vec_id") -> DataFrame:
    """Vamana's second build pass, batch form (DiskANN's one-round
    refinement; reference ngh_graph_engine.dart's insert-time edge
    selection applied corpus-wide): every corpus node beam-searches the
    ROUND-1 graph for its global approximate neighbors, those
    candidates union the node's existing edges, and ``robust_prune``
    keeps ``n_neighbors`` direction-diverse survivors.  The md5 ring is
    then re-derived and unioned back unpruned — it carries the
    strong-connectivity guarantee the pruned edges can't.

    Why it earns its cost: the round-1 kNN edges are SAME-CELL only, so
    on a structureless corpus a node near a cell boundary wastes its
    degree budget on one side of the boundary — measured at bench scale
    as flat-corpus recall 0.605 -> 0.725 at the SAME probed fraction
    (BENCH_DETAIL.recall.graph_recall_at_10.flat_refined).  Cost: one
    whole-corpus beam search (|corpus| x ef x degree rows per hop — the
    documented DiskANN build cost, linear in corpus) plus the prune's
    degree^2-per-node pass.  Output graph degree: ``n_neighbors`` +
    |ring_skips| (bridges dissolve into the pruned candidate pool)."""
    cand_new = graph_search_many(
        graph, corpus, corpus, seeds, k=3 * n_neighbors, ef=ef,
        max_hops=max_hops, vec_field=vec_field, id_field=id_field,
        exclude_self=True)
    cand = (cand_new.select(F.col("query_id").alias("node_id"),
                            "neighbor_id", "distance")
            .unionByName(graph.select("node_id", "neighbor_id",
                                      "distance"))
            .groupBy("node_id", "neighbor_id")
            .agg(F.min("distance").alias("distance")))
    pruned = robust_prune(cand, corpus, max_degree=n_neighbors,
                          alpha=alpha, vec_field=vec_field,
                          id_field=id_field)
    base = corpus.select(F.col(id_field).alias("node_id"),
                         F.col(vec_field).alias("__v"))
    ranked, n_rows = _md5_rank(base)
    ranked = ranked.select("node_id", "__v", "__r")
    ring = _ring_edges(ranked, n_rows, ring_skips)
    return (pruned.unionByName(ring)
                  .groupBy("node_id", "neighbor_id")
                  .agg(F.min("distance").alias("distance")))


def graph_search_many(graph: DataFrame, corpus: DataFrame,
                      queries: DataFrame, seeds: DataFrame, k: int = 10,
                      ef: int = 16, max_hops: int = 3,
                      vec_field: str = "embedding",
                      id_field: str = "vec_id",
                      query_vec: Optional[str] = None,
                      query_id: Optional[str] = None,
                      exclude_self: bool = False,
                      return_probed: bool = False):
    """Bounded beam search over a ``build_knn_graph`` neighbors table —
    the batch form of the reference's graph traversal
    (ngh_graph_engine.dart beam search): every hop is ONE shuffled
    hash join + ONE per-query top-``ef`` window over ALL queries at
    once, repeated a FIXED ``max_hops`` times; no per-row recursion,
    no driver-side frontier.

    Hop h: candidates = beam_h's nodes UNION their graph neighbors
    (dedup'd), scored exactly against the query, top-``ef`` kept
    (distance, id tie-break).  The beam re-scores its own <= ef rows
    each hop — the deliberate stateless trade: ef extra scores per hop
    buy a trajectory with no visited-set state, expressible hop-for-
    hop in plain SQL (the oracle) and restart-safe at scale.  Final
    answer: exact top-``k`` of the last beam — the scores ARE the
    exact cosine distances throughout, so the "re-rank" stage is just
    the final window.

    Each hop pins the beam (the PageRank loop discipline)
    so lineage stays O(1) in hops.  ``seeds`` is the entry node set
    (``build_knn_graph``'s hubs — one per cell — unless the caller
    supplies a custom frame with the same id column as ``hub_id`` or
    ``node_id``).  Output: (query_id, neighbor_id, distance, rank);
    with ``return_probed`` also the count of DISTINCT (query, node)
    pairs ever scored — the probed-fraction numerator recall
    measurement reports.
    """
    query_vec = query_vec or vec_field
    query_id = query_id or id_field
    q = pin(queries.select(F.col(query_id).alias("query_id"),
                           F.col(query_vec).alias("__qv"))
                   .withColumn("__qn", F.expr(_norm_sql("__qv"))))
    c = corpus.select(F.col(id_field).alias("node_id"),
                      F.col(vec_field).alias("__cv"))
    # scale-adaptive hop-join shape: when the planner would broadcast
    # the corpus, the graph (3 narrow columns over the same ids) and the
    # normed corpus fit too, so the corpus is normed once and a hop's
    # only shuffle is the frontier dedup; bigger corpora keep the
    # per-hop frontier fetch (spillable, the safe path at scale).
    small_mode = fits(corpus)
    c_normed = (pin(c.withColumn("__cn", F.expr(_norm_sql("__cv"))))
                if small_mode else None)
    seed_col = "hub_id" if "hub_id" in seeds.columns else "node_id"
    seed_nodes = seeds.select(F.col(seed_col).alias("node_id")).distinct()

    def _score(pairs):
        # corpus-side norm placement (r11-verdict lens, same as
        # ivf_search_many): join the corpus against the DISTINCT
        # frontier nodes FIRST, then project __cn — the O(dim) norm
        # runs once per frontier NODE per hop (bounded by ef × (1 +
        # degree) × |queries|, deduped across queries), never per
        # corpus row and never per (query, node) pair.  In small_mode
        # the pre-normed corpus checkpoint joins instead (norms
        # computed once for the whole run; the planner broadcasts it),
        # skipping the per-hop frontier-distinct job.  Same expression
        # → bit-identical distances.
        if small_mode:
            nv = c_normed
        else:
            nodes = pairs.select("node_id").distinct()
            # the frontier: ≤ ef × (1 + degree) × |queries| rows
            nv = (c.join(broadcast(nodes), on="node_id")
                   .withColumn("__cn", F.expr(_norm_sql("__cv"))))
        # the query side, bounded like knn_join's
        out = (pairs.join(nv, on="node_id")
                    .join(broadcast(q), on="query_id")
                    .selectExpr("query_id", "node_id",
                                _cos_prenorm_sql("__qv", "__cv",
                                                 "__qn", "__cn")
                                + " AS distance"))
        if exclude_self:
            out = out.filter(F.col("query_id") != F.col("node_id"))
        return out

    def _dedup(pairs):
        # exact (query, node) dedup with ONE exchange on query_id:
        # map-side partial collect_set shrinks duplicates before the
        # shuffle (per-query frontier is bounded by ef × (1 + degree),
        # so the set buffer is tiny by construction), and the result
        # stays hash-partitioned on query_id — exactly the distribution
        # the top-ef window needs, so the window adds NO second
        # exchange.  A plain .distinct() exchanged on (query_id,
        # node_id), which the window could not reuse.
        return (pairs.groupBy("query_id")
                     .agg(F.collect_set("node_id").alias("__ns"))
                     .select("query_id",
                             F.explode("__ns").alias("node_id")))

    hop_graph = graph.withColumnRenamed("node_id", "__gn")
    if small_mode:
        # fits(corpus) bounds the graph; its estimate is a join product
        hop_graph = broadcast(hop_graph)
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(),
                                               F.col("node_id").asc())
    # |hubs| rows; unhinted, Python-row seeds make a cartesian product
    cand = q.select("query_id").crossJoin(broadcast(seed_nodes))
    probed = cand if return_probed else None   # pinned once per hop
    beam = pin(_score(cand).withColumn("__r", F.row_number().over(w))
               .filter(F.col("__r") <= ef).drop("__r"))
    for _hop in range(int(max_hops)):
        expanded = (beam.select("query_id", "node_id")
                        .join(hop_graph,
                              F.col("node_id") == F.col("__gn"))
                        .select("query_id",
                                F.col("neighbor_id").alias("node_id")))
        cand = _dedup(beam.select("query_id", "node_id")
                          .unionByName(expanded))
        if return_probed:
            probed = pin(probed.unionByName(cand).distinct())
        beam = pin(_score(cand).withColumn("__r", F.row_number().over(w))
                   .filter(F.col("__r") <= ef).drop("__r"))
    out = (beam.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k)
               .select("query_id", F.col("node_id").alias("neighbor_id"),
                       "distance", "rank"))
    if return_probed:
        return out, probed.count()
    return out


def graph_measure_recall(graph: DataFrame, corpus: DataFrame,
                         seeds: DataFrame, k: int = 10, ef: int = 16,
                         max_hops: int = 3, n_queries: int = 20,
                         vec_field: str = "embedding",
                         id_field: str = "vec_id") -> dict:
    """Measured recall@k AND probed fraction of the graph index — the
    ``ivf_measure_recall`` twin, with the extra number that makes the
    recall comparable across index families: ``probed_fraction`` =
    distinct (query, node) pairs scored / (n_queries * corpus), the
    same meaning as IVF's nprobe/n_cells.  Compare graph vs IVF AT
    EQUAL probed fraction to see which index earns its build cost."""
    queries = pin(corpus
                  .orderBy(F.md5(F.col(id_field).cast("string")).asc(),
                           F.col(id_field).asc())
                  .limit(n_queries)
                  .select(id_field, vec_field))
    nq = queries.count()
    n_corpus = corpus.count()
    approx, probed = graph_search_many(
        graph, corpus, queries, seeds, k=k, ef=ef, max_hops=max_hops,
        vec_field=vec_field, id_field=id_field, exclude_self=True,
        return_probed=True)
    exact = knn_join(queries, corpus, k=k, query_vec=vec_field,
                     corpus_vec=vec_field, query_id=id_field,
                     corpus_id=id_field, metric="cosine",
                     exclude_self=True)
    hits = (exact.select("query_id", "neighbor_id")
            .join(approx.select("query_id", "neighbor_id"),
                  on=["query_id", "neighbor_id"]).count())
    denom = exact.count()
    return {"recall": hits / denom if denom else 1.0,
            "probed_fraction": round(probed / max(nq * n_corpus, 1), 4)}


# ---------------------------------------------------------------------------
# Persisted graph lifecycle: write/read + incremental append + tombstone
# delete + compaction — the graph twin of the IVF index lifecycle
# (ivf_write_index/ivf_append/ivf_delete/ivf_compact), mirroring the
# reference's incremental NGH maintenance (ngh_graph_engine.dart:14-80:
# insert = beam-search the new point's neighbors + link bidirectionally;
# delete = tombstone).
# ---------------------------------------------------------------------------


def graph_write_index(graph: DataFrame, hubs: DataFrame, path: str,
                      n_rows: Optional[int] = None,
                      id_field: str = "vec_id",
                      params: Optional[dict] = None) -> str:
    """Persist a ``build_knn_graph`` index: the (node_id, neighbor_id,
    distance) edge table as parquet, the hub seed set, and a meta
    sidecar (build knobs + n_rows, so append/search reuse the same
    geometry).  At 100 TB the edge table is corpus x degree rows; the
    parquet layout keeps it one scan per hop join — repartition by
    node_id before writing if hop joins should co-locate (the hop join
    shuffles on node_id either way)."""
    import json
    import os

    graph.write.mode("overwrite").parquet(os.path.join(path, "edges"))
    hubs.write.mode("overwrite").parquet(os.path.join(path, "hubs"))
    meta = {"n_rows": n_rows, "id_field": id_field,
            "params": params or {}}
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)
    return path


def graph_index_meta(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def _graph_tombstones(spark, path: str) -> Optional[DataFrame]:
    import os

    tdir = os.path.join(path, "tombstones")
    if not os.path.isdir(tdir):
        return None
    return spark.read.parquet(tdir)


def graph_read_index(spark, path: str
                     ) -> tuple[DataFrame, DataFrame, dict]:
    """Load a persisted graph index: (edges, hubs, meta).  Tombstoned
    nodes (``graph_delete``) are anti-joined out of BOTH edge endpoints
    — a deleted node can neither be traversed through nor returned —
    and out of the hub seed set, so deletes take effect immediately on
    every search; ``graph_compact`` later makes them physical."""
    import os

    edges = spark.read.parquet(os.path.join(path, "edges"))
    hubs = spark.read.parquet(os.path.join(path, "hubs"))
    meta = graph_index_meta(path)
    tomb = _graph_tombstones(spark, path)
    if tomb is not None:
        edges = (edges
                 .join(tomb, edges["node_id"] == tomb["__del_id"],
                       "left_anti")
                 .join(tomb, edges["neighbor_id"] == tomb["__del_id"],
                       "left_anti"))
        hubs = hubs.join(tomb, hubs["hub_id"] == tomb["__del_id"],
                         "left_anti")
    return edges, hubs, meta


def graph_append(spark, path: str, corpus: DataFrame,
                 new_nodes: DataFrame, vec_field: str = "embedding",
                 id_field: Optional[str] = None, n_neighbors: int = 8,
                 ef: int = 16, max_hops: int = 3,
                 ring_skips: Sequence[int] = (1,)) -> int:
    """Incremental insert into a persisted graph — the reference's own
    insert path (ngh_graph_engine.dart:14-80) in batch form:

    1. each new node BEAM-SEARCHES the existing graph for its
       ``n_neighbors`` approximate nearest existing nodes (exact
       distances along the way, ``graph_search_many``);
    2. edges are added BIDIRECTIONALLY — new->found makes the new node
       useful, found->new makes it REACHABLE (the insert-time
       back-linking every incremental graph index relies on);
    3. the batch itself is ring-linked over its own md5 rank
       (``ring_skips``) so a large appended batch stays internally
       navigable before any rebuild.

    Exact md5-ring maintenance over the union would rewrite O(skips)
    edges of EVERY pre-existing node (the global rank shifts); the
    batch-local ring + back-links approximate it.  Append cost — the
    MEASURED form (r11 BENCH_DETAIL.graph_lifecycle: append_x 1.45 for
    a 10× index at fixed batch): ∝ |batch| × beam(index), where
    beam(index) is the per-node beam search's per-hop join against the
    FULL edge table — sub-linear in index size (the 10× index costs
    1.45×, not 10×), but not flat: the WRITE IO tracks the batch,
    while the beam's read-side frontier joins grow slowly with the
    index.  Re-inserting
    a tombstoned id raises (compact first); recall after append is
    pytest-measured against the rebuilt graph.  ``corpus`` is the
    already-indexed vector table (the batch must NOT be in it yet).
    Returns the number of nodes appended."""
    import os

    meta = graph_index_meta(path)
    id_field = id_field or meta.get("id_field", "vec_id")
    edges, hubs, _ = graph_read_index(spark, path)
    tomb = _graph_tombstones(spark, path)
    batch = pin(new_nodes.select(F.col(id_field).alias("node_id"),
                                 F.col(vec_field).alias("__v")))
    n = batch.count()
    if n == 0:
        return 0
    if tomb is not None:
        clash = batch.join(tomb, batch["node_id"] == tomb["__del_id"],
                           "semi").count()
        if clash:
            raise ValueError(
                f"graph_append: {clash} id(s) are tombstoned; run "
                "graph_compact before re-inserting deleted ids")
    found = graph_search_many(
        edges, corpus, batch.select("node_id", F.col("__v")
                                    .alias(vec_field)),
        hubs, k=n_neighbors, ef=ef, max_hops=max_hops,
        vec_field=vec_field, id_field=id_field,
        query_id="node_id", query_vec=vec_field)
    fwd = found.select(F.col("query_id").alias("node_id"),
                       "neighbor_id", "distance")
    back = found.select(F.col("neighbor_id").alias("node_id"),
                        F.col("query_id").alias("neighbor_id"),
                        "distance")
    new_edges = fwd.unionByName(back)
    if n > 1:
        ranked, _ = _md5_rank(batch)
        ranked = ranked.select("node_id", "__v", "__r")
        skips = [s for s in ring_skips if s % n != 0]
        if skips:
            new_edges = new_edges.unionByName(
                _ring_edges(ranked, n, skips))
    new_edges = (new_edges.groupBy("node_id", "neighbor_id")
                          .agg(F.min("distance").alias("distance")))
    new_edges.write.mode("append").parquet(os.path.join(path, "edges"))
    meta["n_rows"] = (meta.get("n_rows") or 0) + n
    import json
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)
    return n


def graph_delete(spark, path: str, ids) -> int:
    """Tombstone delete (the ``ivf_delete`` pattern; reference: NGH
    tombstone delete): ids land in a tiny sidecar; ``graph_read_index``
    anti-joins them from both edge endpoints and the hub set, so the
    nodes stop matching immediately without touching the edge data.
    Returns tombstones added."""
    import os

    if isinstance(ids, DataFrame):
        tomb = ids.toDF("__del_id")
    else:
        tomb = local_df(spark, [(i,) for i in ids], ["__del_id"])
    n = tomb.count()
    tomb.write.mode("append").parquet(os.path.join(path, "tombstones"))
    meta = graph_index_meta(path)
    if meta.get("n_rows"):
        import json
        meta["n_rows"] = max(0, meta["n_rows"] - n)
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)
    return n


def graph_compact(spark, path: str) -> int:
    """Fold tombstones into the edge data: rewrite the edge table
    without rows touching a tombstoned node, drop tombstoned hubs, and
    remove the sidecar.  Returns edges physically removed.  (Unlike
    IVF's cell-partitioned compaction this rewrites the whole edge
    table — an edge references TWO nodes, so there is no single
    partition key that bounds the rewrite; schedule it like any other
    table OPTIMIZE.)"""
    import os
    import shutil

    tomb = _graph_tombstones(spark, path)
    if tomb is None:
        return 0
    edges = spark.read.parquet(os.path.join(path, "edges"))
    before = edges.count()
    live_e, live_h, _ = graph_read_index(spark, path)
    pinned_e = pin(live_e, eager=True)
    pinned_h = pin(live_h, eager=True)
    pinned_e.write.mode("overwrite").parquet(os.path.join(path, "edges"))
    pinned_h.write.mode("overwrite").parquet(os.path.join(path, "hubs"))
    shutil.rmtree(os.path.join(path, "tombstones"))
    return before - pinned_e.count()


def hard_negatives(corpus: DataFrame, anchors: Optional[DataFrame] = None,
                   k: int = 5, n_cells: int = 16, nprobe: int = 2,
                   vec_field: str = "embedding", id_field: str = "vec_id",
                   label_field: str = "label",
                   centroids: Optional[list[tuple[int, list[float]]]] = None
                   ) -> DataFrame:
    """Hard-negative mining for contrastive / embedding-model training:
    for every anchor, the ``k`` NEAREST corpus rows whose ``label``
    DIFFERS from the anchor's — the negatives that sit closest to the
    decision boundary and carry the training signal random negatives
    don't.  (Training-data companion of the reference's vector search,
    ``vector_index_impl.dart`` metric semantics; the mining recipe
    itself is parity-plus.)

    Two tiers, the package's two-cost convention:

    - ``anchors`` given (a bounded frame — a sampled slice, a batch):
      EXACT — anchors broadcast, corpus streams once, per-anchor
      bounded top-k (`topk_per_query`).  The oracle-entry path.
    - ``anchors=None``: every corpus row is an anchor — all-pairs is
      off the table at 100 TB, so mining is CELL-BLOCKED: k-means cells
      via ``ivf_build``, each anchor probes its ``nprobe`` nearest
      cells (same probe order as IVF search), pairs are scored only
      inside probed cells — sum over cells of |cell| * |probers|, never
      corpus².  Near-boundary negatives in an adjacent cell are found
      at nprobe >= 2; recall vs the exact tier is pytest-measured.

    Null labels never pair (label != label is null-false on either
    side), matching SQL two-valued filter semantics.  Output:
    (query_id, query_label, neighbor_id, neighbor_label, distance,
    rank) — ties break on neighbor id, so the result is deterministic
    and engine-portable.
    """
    from tostore_spark.llmops.dedup import _spread
    if anchors is not None:
        q = (anchors.select(F.col(id_field).alias("query_id"),
                            F.col(label_field).alias("query_label"),
                            F.col(vec_field).alias("__qv"))
                    .withColumn("__qn", F.expr(_norm_sql("__qv"))))
        # corpus streams the per-pair distance — spread so a one-file
        # table doesn't serialize the scoring on one core (knn_join doc)
        c = (_spread(corpus.select(F.col(id_field).alias("neighbor_id"),
                                   F.col(label_field)
                                    .alias("neighbor_label"),
                                   F.col(vec_field).alias("__cv")))
                   .withColumn("__cn", F.expr(_norm_sql("__cv"))))
        # the anchor side, bounded like knn_join's queries
        scored = (c.crossJoin(broadcast(q))
                   .filter(F.col("query_id") != F.col("neighbor_id"))
                   .filter(F.col("query_label") != F.col("neighbor_label"))
                   .selectExpr("query_id", "query_label", "neighbor_id",
                               "neighbor_label",
                               _cos_prenorm_sql("__qv", "__cv",
                                                "__qn", "__cn")
                               + " AS distance"))
    else:
        indexed, cents = ivf_build(corpus, n_cells=n_cells,
                                   vec_field=vec_field,
                                   id_field=id_field, centroids=centroids)
        # spread before the pin keeps the layout (build_knn_graph
        # doc): the probed-cell pair scoring below inherits this
        # parallelism on both sides
        base = pin(_spread(indexed)
                   .select(F.col(id_field).alias("__id"),
                           F.col(label_field).alias("__lb"),
                           F.col(vec_field).alias("__v"), "cell_id")
                   .withColumn("__nv", F.expr(_norm_sql("__v"))))
        a = (base.select(F.col("__id").alias("query_id"),
                         F.col("__lb").alias("query_label"),
                         F.col("__v").alias("__qv"),
                         F.col("__nv").alias("__qn"),
                         F.explode(probe_cells_column(
                             "__v", "__nv", cents, int(nprobe)))
                          .alias("__pc")))
        b = base.select(F.col("__id").alias("neighbor_id"),
                        F.col("__lb").alias("neighbor_label"),
                        F.col("__v").alias("__cv"),
                        F.col("__nv").alias("__cn"),
                        F.col("cell_id").alias("__pc"))
        scored = (a.join(b, on="__pc")
                   .filter(F.col("query_id") != F.col("neighbor_id"))
                   .filter(F.col("query_label") != F.col("neighbor_label"))
                   .selectExpr("query_id", "query_label", "neighbor_id",
                               "neighbor_label",
                               _cos_prenorm_sql("__qv", "__cv",
                                                "__qn", "__cn")
                               + " AS distance"))
    return (topk_per_query(scored, k)
            .select("query_id", "query_label", "neighbor_id",
                    "neighbor_label", "distance", "rank"))
