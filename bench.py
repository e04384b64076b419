"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline set covers the engine's main cost shapes: scan+filter+topk,
hash aggregate, 3-way join, window agg over events, keyset pagination,
vector top-k, minhash dedup, knn join, text stats.

Methodology (recorded in the JSON): BOTH timings are reported per query.
- cold: first execution with the Spark datacache cleared beforehand —
  every operator pays its full cost including any index/cache build.
  Comparable across rounds (r1 used this method).
- warm: the immediately following second execution — operator-internal
  caches (the minhash LSH index persist, parquet footer caches) behave as
  they would in a live session, mirroring the reference's default-on
  caches.  r2 reported only this.
The headline `value` is the COLD total; `value_warm` is the steady-state
total.  Session startup (JVM, codegen warm-up, file listings) is excluded
from both via untimed per-table count() warm-up, which caches no query
results.

`canary_sec` is a fixed engine-independent workload (shuffle-free range
aggregation + a lineitem scan-agg) timed in the same session: it measures
the MACHINE, not the repo.  Round-over-round query comparisons should be
read against the canary ratio — on this shared host, identical code and
data measured 5.09s (r2, 08:39), 6.00s (r3, 12:19) and 6.5s (r4, 13:30)
warm totals purely from host drift.
"""

from __future__ import annotations

import json
import os
import sys
import time
from tostore_spark.localdf import local_df
from tostore_spark.plans.delta_export import export_delta
from tostore_spark.plans.iceberg import export_iceberg

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _release_rdds(spark) -> None:
    """Free ALL persistent RDD blocks — including localCheckpoint
    blocks, which ``spark.catalog.clearCache()`` does NOT reclaim (it
    only clears relation cache entries).  The r11 verdict traced a 5x
    phantom regression in the sf1 spot to exactly this: a preceding
    bench stage's checkpointed 40k-row graph index stayed resident and
    skewed every later measurement.  Stage boundaries call this so each
    measurement starts from the same session state."""
    try:
        jsc = spark.sparkContext._jsc
        for rdd in jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
    except Exception as exc:                    # pragma: no cover
        print(f"# rdd release skipped: {exc}", file=sys.stderr)
    spark.catalog.clearCache()


def _med3(spark, fn) -> tuple[float, int]:
    """Median-of-3 cold seconds for ``fn`` (each run cache-cleared) and
    the row count — the r11 verdict's stabilization order for the sf1
    scale spot: single-shot colds were too position-sensitive to detect
    a real regression."""
    vals, n = [], 0
    for _ in range(3):
        spark.catalog.clearCache()
        t0 = time.time()
        n = fn().count()
        vals.append(time.time() - t0)
    return round(sorted(vals)[1], 3), n


def _sf1_spot(spark, sf_dir: str, headline_cold: dict) -> dict | None:
    """One-order-of-magnitude spot-check for the scale operators
    (minhash LSH, brute-force knn join, batch IVF): derive a 10x corpus
    from the driver's sf data and record cold/warm — the guard that the
    dedup/ANN scale designs don't go super-linear between sf0.1 and sf1.

    Derivation (deterministic, cached in /tmp): 10 replicas per table.
    Document replica i>0 inserts a replica-distinct marker char every 3
    characters, so every 5-shingle of replica i contains a marker and no
    shingle collides ACROSS replicas, while dup structure WITHIN a
    replica is preserved verbatim — near-dup pairs therefore scale
    exactly linearly (10x) by construction, making runtime ratios
    attributable to the engine, not to data-induced pair blowup.
    Embedding replica i adds 0.003*i per element (cheap, rank-perturbing;
    cost of the distance math is value-independent).  Set
    SPARK_GRAFT_SF1=0 to skip."""
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "1":
        return None
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    import hashlib

    replicas, id_off = 10, 100_000_000
    # cache keyed by the source dir AND the derivation recipe (version
    # string + replica params): a changed SPARK_GRAFT_SF_DIR or a changed
    # derivation (e.g. the r5 marker-prefix fix) must not silently reuse
    # a stale cached corpus — that would invalidate the sf1 ratios on any
    # host that still had the old cache.  _SUCCESS markers guard against
    # a half-written cache from an interrupted run.
    derivation = f"v2:marker-prefix+interleave3:{replicas}:{id_off}"
    cache = "/tmp/spark_graft_sf1_" + hashlib.md5(
        f"{sf_dir}|{derivation}".encode()).hexdigest()[:8]
    docs_p = os.path.join(cache, "documents.parquet")
    emb_p = os.path.join(cache, "embeddings.parquet")
    t0 = time.time()
    db = entrymod._db(spark, sf_dir)
    if not (os.path.exists(os.path.join(docs_p, "_SUCCESS"))
            and os.path.exists(os.path.join(emb_p, "_SUCCESS"))):
        docs = db.df("documents")
        parts = [docs]
        for i in range(1, replicas):
            marker = chr(ord("a") + i)  # survives text normalization
            # interleave the marker every 3 chars AND prefix it: the
            # prefix keeps replicas distinct even for texts under 3
            # chars, which the interleave regex leaves untouched
            parts.append(docs
                         .withColumn("doc_id", F.col("doc_id") + i * id_off)
                         .withColumn("text", F.concat(
                             F.lit(marker + " "),
                             F.regexp_replace(
                                 "text", "(.{3})", f"$1{marker}"))))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(docs_p)
        emb = db.df("embeddings")
        eparts = [emb]
        for i in range(1, replicas):
            eparts.append(emb
                          .withColumn("vec_id", F.col("vec_id") + i * id_off)
                          .withColumn("embedding", F.transform(
                              "embedding",
                              lambda x: x + F.lit(0.003 * i))))
        eout = eparts[0]
        for p in eparts[1:]:
            eout = eout.unionByName(p)
        eout.write.mode("overwrite").parquet(emb_p)
    gen_sec = round(time.time() - t0, 3)

    qs = entrymod.queries()
    spot = ["q_dedup_minhash_lsh", "q_knn_join", "q_ivf_batch",
            "q_hard_negatives"]
    # r11 stabilization: start from a clean session (no resident
    # localCheckpoint blocks from earlier stages), measure base and sf1
    # ADJACENTLY per query med-of-3 — a ratio of two same-position
    # medians, not a cross-position single shot
    _release_rdds(spark)
    base_cold, cold, warm, rows = {}, {}, {}, {}
    for name in spot:
        fn = qs[name]
        base_cold[name], _ = _med3(spark, lambda: fn(spark, sf_dir))
        cold[name], rows[name] = _med3(spark, lambda: fn(spark, cache))
        t0 = time.time()
        fn(spark, cache).count()
        warm[name] = round(time.time() - t0, 3)
        ratio = (round(cold[name] / base_cold[name], 2)
                 if base_cold.get(name) else None)
        print(f"# sf1 {name}: cold={cold[name]}s warm={warm[name]}s "
              f"rows={rows[name]} cold_x_vs_sf0.1={ratio} "
              f"(med-of-3 both sides)", file=sys.stderr)
    spark.catalog.clearCache()
    n_docs = spark.read.parquet(docs_p).count()
    n_emb = spark.read.parquet(emb_p).count()

    # graph ANN scale line (r9-verdict ask): build with |cell| held
    # CONSTANT (n_cells scales with the corpus — the SCALE.md contract,
    # Σ|cell|² stays linear) and search at fixed knobs.  Expected: build
    # ratio ~10x (linear), search ratio far below 10x (per-hop cost is
    # |queries| x ef x degree, corpus-size-independent; only the
    # frontier joins grow with the corpus).
    from tostore_spark.llmops import similarity as sim
    graph_line = {}
    # THREE corpus sizes (1x, 3x, 10x — the 3x point filters the first
    # three replicas out of the derived cache) so the beam's growth
    # gets a measured power-law exponent, not just one ratio (r12
    # verdict order #5): alpha = slope of log(sec) vs log(n), stored
    # per round so the sub-linear claim has a stated, tracked number.
    sizes = {}
    e10 = None
    for tag, cells, frac in (("base", 16, 1), ("x3", 48, 3),
                             ("sf1", 160, 10)):
        if tag == "base":
            e = (entrymod._db(spark, sf_dir).df("embeddings")
                 .select("vec_id", "embedding")
                 .localCheckpoint(eager=True))
        else:
            if e10 is None:
                e10 = (entrymod._db(spark, cache).df("embeddings")
                       .select("vec_id", "embedding")
                       .localCheckpoint(eager=True))
            e = (e10 if frac == replicas else
                 e10.filter(F.col("vec_id") < frac * id_off)
                    .localCheckpoint(eager=True))
        sizes[tag] = e.count()
        t0 = time.time()
        g, h = sim.build_knn_graph(e, n_neighbors=8, n_cells=cells)
        g = g.localCheckpoint(eager=True)
        graph_line[f"{tag}_build_sec"] = round(time.time() - t0, 3)
        queries = (e.orderBy(F.md5(F.col("vec_id").cast("string")).asc(),
                             F.col("vec_id").asc()).limit(20)
                    .localCheckpoint(eager=True))
        t0 = time.time()
        sim.graph_search_many(g, e, queries, h, k=10, ef=24,
                              max_hops=5).count()
        graph_line[f"{tag}_search_sec"] = round(time.time() - t0, 3)
    graph_line["build_x"] = round(
        graph_line["sf1_build_sec"] / graph_line["base_build_sec"], 2)
    graph_line["search_x"] = round(
        graph_line["sf1_search_sec"] / graph_line["base_search_sec"], 2)
    graph_line["sizes"] = sizes

    def _fit_alpha(key):
        import math as _m
        pts = [(sizes[t], graph_line[f"{t}_{key}_sec"])
               for t in ("base", "x3", "sf1")
               if graph_line.get(f"{t}_{key}_sec")]
        if len(pts) < 2:
            return None
        xs = [_m.log(n) for n, _s in pts]
        ys = [_m.log(s) for _n, s in pts]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        den = sum((x - mx) ** 2 for x in xs)
        return round(sum((x - mx) * (y - my)
                         for x, y in zip(xs, ys)) / den, 3) if den \
            else None
    # least-squares slope in log-log space: sec ~ n^alpha.  alpha < 1
    # is the sub-linear contract; the extrapolated 100x ratio
    # (10^(2*alpha) over base) makes the claim falsifiable next round.
    graph_line["build_alpha"] = _fit_alpha("build")
    graph_line["search_alpha"] = _fit_alpha("search")
    if graph_line.get("search_alpha") is not None:
        graph_line["search_x100_derived"] = round(
            10 ** (2 * graph_line["search_alpha"]), 1)
    print(f"# sf1 graph: {graph_line}", file=sys.stderr)
    _release_rdds(spark)
    return {
        "gen_sec": gen_sec, "replicas": replicas,
        "n_documents": n_docs, "n_embeddings": n_emb,
        "queries": cold, "queries_warm": warm, "rows": rows,
        "cold_x_vs_base": {k: (round(cold[k] / base_cold[k], 2)
                               if base_cold.get(k) else None)
                           for k in spot},
        "base_cold": {k: base_cold[k] for k in spot},
        "headline_cold_ref": {k: headline_cold.get(k) for k in spot
                              if k in headline_cold},
        "graph": graph_line,
        "note": ("10x corpus derived from the base sf dir (marker-"
                 "interleaved text: near-dup pairs scale exactly 10x by "
                 "construction); cold/base_cold are MED-OF-3 measured "
                 "adjacently from a clean session (persistent RDD blocks "
                 "released) — see bench.py _sf1_spot.  cold_x values are "
                 "NOT comparable to r10/r11 spot ratios: those divided by "
                 "the headline stage's SESSION-COLD first run (minhash "
                 "base ~3.8s incl. first-parse/JIT) where this divides by "
                 "the honest adjacent med-of-3 base (~0.9s) — same "
                 "engine, stricter denominator; sub-linear (<10x on 10x "
                 "data) is the contract being checked"),
    }


def _clustered_embeddings(spark, n: int = 4000, dim: int = 32,
                          n_clusters: int = 50):
    """Deterministic mixture-of-Gaussians-shaped embedding table: row i
    belongs to cluster i mod n_clusters; each coordinate is a hashed
    pseudo-random cluster center (sin-scrambled, in [-1,1]) plus small
    hash-derived noise.  Seedless-but-deterministic by construction
    (pure column math over ``range``), so the recall reading is
    reproducible across rounds and hosts.

    Why it exists: the driver's synthetic embeddings are structureless —
    on them IVF recall mathematically equals the probed corpus fraction
    (BASELINE.md r6 note), so the recall gate could never show a real
    regression or improvement.  On CLUSTERED vectors (the realistic
    case) cells align with true clusters and a query's own cell holds
    its truth set, so recall@10 at modest nprobe should sit >=0.9 —
    drift below that is a genuine ANN regression.  The flat-testdata
    curve stays in the JSON as the adversarial floor."""
    from pyspark.sql import functions as F

    base = spark.range(n).withColumnRenamed("id", "vec_id")
    cl = F.pmod(F.col("vec_id"), F.lit(n_clusters))

    def coord(d):
        center = F.sin((cl + 1).cast("double") * (d + 1).cast("double")
                       * F.lit(0.7310529))
        noise = ((F.pmod(F.hash(F.col("vec_id") * 31 + d), F.lit(1000))
                  .cast("double") / 1000.0) - 0.5) * F.lit(0.1)
        return center + noise

    return base.withColumn(
        "embedding",
        F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), coord))


def _recall_gate(spark, sf_dir: str) -> dict | None:
    """Measured ANN recall@10 at the bench scale, recorded every round
    so a recall regression shows up in the artifact diff — the pytest
    >= 0.9 floor catches breakage, this catches DRIFT.  IVF: the
    distributed ivf_measure_recall (batch IVF vs exact knn_join over a
    deterministic 20-query sample), on BOTH the flat driver embeddings
    (adversarial floor: recall == probed fraction by construction) and
    a deterministic clustered table (realistic case: cells align with
    structure, recall must stay >= 0.9 at nprobe 4).  IVF+PQ: mean over
    5 deterministic queries of the ADC+re-rank path vs the exact top-10
    (the pytest's shape, at sf0.1).  Set SPARK_GRAFT_RECALL=0 to skip."""
    if os.environ.get("SPARK_GRAFT_RECALL", "1") != "1":
        return None
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from tostore_spark.llmops import pq as PQ
    from tostore_spark.llmops import similarity as sim

    t0 = time.time()
    emb = entrymod._db(spark, sf_dir).df("embeddings") \
                  .select("vec_id", "embedding")
    enc, cents = sim.ivf_build(emb, n_cells=16)
    enc = enc.localCheckpoint(eager=True)
    # recall at two probe depths: the curve shows the recall/cost knob
    # (nprobe/n_cells of the corpus scanned), the fixed params make
    # cross-round drift visible
    ivf_recall = {
        f"nprobe_{np_}": round(sim.ivf_measure_recall(
            enc, cents, k=10, nprobe=np_, n_queries=20), 4)
        for np_ in (2, 4, 8)}

    # clustered table: the reading that can actually detect an ANN
    # regression (flat curve above == probed fraction by construction)
    cemb = _clustered_embeddings(spark).localCheckpoint(eager=True)
    cenc, ccents = sim.ivf_build(cemb, n_cells=16)
    cenc = cenc.localCheckpoint(eager=True)
    ivf_recall_clustered = {
        f"nprobe_{np_}": round(sim.ivf_measure_recall(
            cenc, ccents, k=10, nprobe=np_, n_queries=20), 4)
        for np_ in (2, 4)}

    pq_enc, pq_cents, books = PQ.ivfpq_build(emb, n_cells=16, m=8,
                                             n_codes=64, sample=500)
    pq_enc = pq_enc.localCheckpoint(eager=True)
    queries = (emb.orderBy(F.md5(F.col("vec_id").cast("string")).asc(),
                           F.col("vec_id").asc())
                  .limit(5).collect())
    recalls = []
    for row in queries:
        qv = [float(x) for x in row["embedding"]]
        exact = {r["neighbor_id"] for r in
                 sim.knn_join(
                     local_df(spark, [(row["vec_id"], qv)],
                                           ["query_id", "qv"]),
                     emb, k=11, query_vec="qv", corpus_vec="embedding",
                     query_id="query_id", corpus_id="vec_id",
                     metric="cosine").collect()
                 if r["neighbor_id"] != row["vec_id"]}
        approx = {r["vec_id"] for r in
                  PQ.ivfpq_search(pq_enc, pq_cents, books, qv, k=11,
                                  nprobe=4, rerank_field="embedding",
                                  oversample=8).collect()
                  if r["vec_id"] != row["vec_id"]}
        denom = min(len(exact), 10) or 1
        recalls.append(len(exact & approx) / denom)

    # multi-probe hyperplane LSH on the CLUSTERED table (same
    # regression-sensitive fixture as the IVF clustered curve): probed
    # buckets vs the exact cosine top-10, 5 deterministic queries
    from tostore_spark.vector import vector_search, vector_search_lsh
    lsh_queries = (cemb.orderBy(F.md5(F.col("vec_id").cast("string"))
                                .asc(), F.col("vec_id").asc())
                       .limit(5).collect())
    lsh_recalls = []
    for row in lsh_queries:
        qv = [float(x) for x in row["embedding"]]
        exact = {r["vec_id"] for r in
                 vector_search(cemb, "embedding", qv, top_k=11,
                               metric="cosine").collect()
                 if r["vec_id"] != row["vec_id"]}
        approx = {r["vec_id"] for r in
                  vector_search_lsh(cemb, "embedding", qv, top_k=11,
                                    metric="cosine", n_planes=8,
                                    n_probes=4).collect()
                  if r["vec_id"] != row["vec_id"]}
        denom = min(len(exact), 10) or 1
        lsh_recalls.append(len(exact & approx) / denom)

    # Vamana-lite graph ANN on BOTH fixtures, with the MEASURED probed
    # fraction so the recall is comparable to IVF at equal cost (the
    # r8-verdict ask: does the graph earn its build cost where IVF's
    # flat floor sits?).  Flat reading vs floor: IVF on structureless
    # vectors gets recall == probed fraction by construction; beam
    # search beating that number is the graph's whole value there.
    # r10: flat knobs moved ef32/h3 -> ef24/h5 (SAME probed budget
    # spent deeper: 0.44 -> 0.605 measured), plus the graph_refine
    # reading (Vamana second pass: global beam-searched candidates +
    # robust prune) and SEPARATE build/refine/search timings — the
    # r9-verdict's missing graph timing evidence.
    t_g0 = time.time()
    gflat, hflat = sim.build_knn_graph(emb, n_neighbors=8, n_cells=16)
    gflat = gflat.localCheckpoint(eager=True)
    t_g1 = time.time()
    graph_flat = sim.graph_measure_recall(gflat, emb, hflat, k=10,
                                          ef=24, max_hops=5,
                                          n_queries=20)
    t_g2 = time.time()
    gref = sim.graph_refine(gflat, emb, hflat, n_neighbors=8, ef=16,
                            max_hops=3, alpha=1.2) \
              .localCheckpoint(eager=True)
    t_g3 = time.time()
    graph_refined = sim.graph_measure_recall(gref, emb, hflat, k=10,
                                             ef=24, max_hops=5,
                                             n_queries=20)
    t_g4 = time.time()
    gclu, hclu = sim.build_knn_graph(cemb, n_neighbors=8, n_cells=16)
    gclu = gclu.localCheckpoint(eager=True)
    graph_clustered = sim.graph_measure_recall(gclu, cemb, hclu, k=10,
                                               ef=24, max_hops=5,
                                               n_queries=20)
    _release_rdds(spark)
    out = {
        "k": 10,
        "ivf_recall_at_10": ivf_recall,
        "ivf_recall_at_10_clustered": ivf_recall_clustered,
        "ivf_params": {"n_cells": 16, "n_queries": 20},
        "clustered_params": {"n": 4000, "dim": 32, "n_clusters": 50,
                             "note": "flat curve = adversarial floor "
                                     "(structureless vectors: recall == "
                                     "probed fraction); clustered curve = "
                                     "regression-sensitive reading, expect "
                                     ">=0.9 at nprobe 4"},
        "ivfpq_recall_at_10": round(sum(recalls) / len(recalls), 4),
        "ivfpq_params": {"n_cells": 16, "m": 8, "n_codes": 64,
                         "nprobe": 4, "oversample": 8, "n_queries": 5},
        "lsh_recall_at_10_clustered":
            round(sum(lsh_recalls) / len(lsh_recalls), 4),
        "lsh_params": {"n_planes": 8, "n_probes": 4, "n_queries": 5,
                       "note": "multi-probe hyperplane LSH vs exact "
                               "cosine top-10 on the clustered table "
                               "(~n_probes/2^n_planes of the corpus "
                               "probed)"},
        "graph_recall_at_10": {
            "flat": {"recall": round(graph_flat["recall"], 4),
                     "probed_fraction": graph_flat["probed_fraction"]},
            "flat_refined": {
                "recall": round(graph_refined["recall"], 4),
                "probed_fraction": graph_refined["probed_fraction"]},
            "clustered": {
                "recall": round(graph_clustered["recall"], 4),
                "probed_fraction": graph_clustered["probed_fraction"]},
        },
        "graph_timing_sec": {
            "build_flat": round(t_g1 - t_g0, 3),
            "search_20q": round(t_g2 - t_g1, 3),
            "refine": round(t_g3 - t_g2, 3),
            "search_20q_refined": round(t_g4 - t_g3, 3),
            "note": "search = graph_measure_recall's beam over 20 "
                    "queries INCLUDING its exact brute-force truth "
                    "pass; build/refine are the index-construction "
                    "costs the r9 verdict wanted tracked"},
        "graph_params": {
            "n_neighbors": 8, "n_cells": 16, "ring_skips": [1, 7, 49],
            "flat": {"ef": 24, "max_hops": 5},
            "refine": {"ef": 16, "max_hops": 3, "alpha": 1.2},
            "clustered": {"ef": 24, "max_hops": 5}, "n_queries": 20,
            "note": "Vamana-lite beam search vs exact top-10; compare "
                    "each recall against the IVF reading at the same "
                    "probed fraction — on the flat corpus IVF's floor "
                    "IS the probed fraction, so graph recall above its "
                    "own probed_fraction = the beam earning its cost; "
                    "flat_refined = graph_refine (global candidates + "
                    "robust prune) at the SAME search knobs"},
        "measure_sec": round(time.time() - t0, 3),
    }
    print(f"# recall: ivf={out['ivf_recall_at_10']} "
          f"ivf_clustered={out['ivf_recall_at_10_clustered']} "
          f"ivfpq={out['ivfpq_recall_at_10']} "
          f"lsh_clustered={out['lsh_recall_at_10_clustered']} "
          f"graph={out['graph_recall_at_10']} "
          f"({out['measure_sec']}s)", file=sys.stderr)
    return out


def _graph_lifecycle_stat(spark, sf_dir: str) -> dict | None:
    """Graph-ANN MAINTENANCE cost (the r10 verdict's ordered artifact):
    append 100 nodes into a persisted 4k-node vs 40k-node clustered
    graph, plus delete+compact, timed.  The append contract is cost
    proportional to the BATCH (beam search per new node + batch ring),
    never an index rebuild — the hop joins do scan the 10x edge table,
    so the honest expectation is SUB-LINEAR in index size (append_x
    well under 10), not perfectly flat.  Set SPARK_GRAFT_RECALL=0 to
    skip (same knob as the recall gate — both are index-build-cost
    measurements)."""
    if os.environ.get("SPARK_GRAFT_RECALL", "1") != "1":
        return None
    import tempfile
    import time as _t

    try:
        from pyspark.sql import functions as F

        from tostore_spark.llmops import similarity as sim
        out: dict = {"batch_rows": 100}
        for label, n, cells in (("small", 4_000, 16),
                                ("large", 40_000, 64)):
            # n_cells scales with the corpus (constant within-cell
            # block size — the build's own 100 TB contract); the
            # append path's cost model is unaffected: same degree,
            # same beam knobs against both indexes
            emb = _clustered_embeddings(spark, n=n) \
                .localCheckpoint(eager=True)
            base = emb.filter(F.col("vec_id") < n - 100) \
                      .localCheckpoint(eager=True)
            batch = emb.filter(F.col("vec_id") >= n - 100) \
                       .localCheckpoint(eager=True)
            g, hubs = sim.build_knn_graph(base, n_neighbors=8,
                                          n_cells=cells)
            with tempfile.TemporaryDirectory() as tmp:
                import shutil as _sh
                path = os.path.join(tmp, "gidx")
                t0 = _t.time()
                sim.graph_write_index(g, hubs, path, n_rows=n - 100)
                out[f"{label}_build_write_sec"] = round(_t.time() - t0,
                                                        3)
                # append timed MED-OF-3 on fresh copies of the index —
                # graph_append mutates the persisted dir, and the r12
                # runs showed single-shot append_x swinging 1.07-2.09
                # on identical code (the ratio artifact must be able
                # to detect a real regression)
                app = []
                for trial in range(3):
                    tpath = os.path.join(tmp, f"gidx_t{trial}")
                    _sh.copytree(path, tpath)
                    t0 = _t.time()
                    sim.graph_append(spark, tpath, base, batch,
                                     n_neighbors=8, ef=16, max_hops=3)
                    app.append(_t.time() - t0)
                out[f"{label}_append_sec"] = round(sorted(app)[1], 3)
                # delete + compact MED-OF-3 as well (r14 read a 3.92
                # delete_x on UNTOUCHED code — the artifact must make
                # the noise-vs-regression call itself): each trial
                # runs on its own appended copy, deletes then compacts
                del_ids = [int(i) for i in range(n - 100, n - 50)]
                dels, comps = [], []
                for trial in range(3):
                    tpath = os.path.join(tmp, f"gidx_t{trial}")
                    t0 = _t.time()
                    sim.graph_delete(spark, tpath, del_ids)
                    dels.append(_t.time() - t0)
                    t0 = _t.time()
                    sim.graph_compact(spark, tpath)
                    comps.append(_t.time() - t0)
                out[f"{label}_delete_sec"] = round(sorted(dels)[1], 3)
                out[f"{label}_compact_sec"] = round(sorted(comps)[1],
                                                    3)
            out[f"{label}_index_rows"] = n - 100
        for op in ("append", "delete", "compact"):
            s = out.get(f"small_{op}_sec")
            if s:
                out[f"{op}_x"] = round(out[f"large_{op}_sec"] / s, 2)
        print(f"# graph lifecycle: append {out.get('small_append_sec')}"
              f"s -> {out.get('large_append_sec')}s at 10x index "
              f"(x{out.get('append_x')})", file=sys.stderr)
        _release_rdds(spark)
        return out
    except Exception as exc:                    # pragma: no cover
        print(f"# graph lifecycle stat skipped: {exc}", file=sys.stderr)
        _release_rdds(spark)
        return None


def _tfidf_block_stat(spark, sf_dir: str) -> dict | None:
    """Blocked candidate-pair count for the UNBOUNDED q_tfidf_pairs
    configuration (widened vocabulary, df cap 0.05) vs the all-pairs
    ceiling — the r7-verdict evidence that the df-cap/shared-token
    block keeps the pair stage sub-quadratic on the full table."""
    try:
        from pyspark.sql import functions as F

        from tostore_spark.llmops import text as TX
        from tostore_spark.llmops.search import tfidf_vectors
        docs = spark.read.parquet(os.path.join(sf_dir,
                                               "documents.parquet"))
        n_docs = docs.count()
        # same Heaps'-law widening rule as the entry: neighborhoods
        # scale with the corpus, posting lists stay ~50 docs at any sf
        mod = max(97, n_docs // 50)
        sfx = (F.col("doc_id") % mod).cast("string")
        widened = F.array_join(
            F.transform(TX.tokens(F.col("text")),
                        lambda t: F.when(F.length(t) <= 3, t)
                                   .otherwise(F.concat(t, sfx))), " ")
        v = tfidf_vectors(docs.withColumn("text", widened),
                          max_df_frac=0.05).localCheckpoint(eager=True)
        a, b = v.alias("a"), v.alias("b")
        cand = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                       & (F.col("a.id") < F.col("b.id")))
                 .select(F.col("a.id"), F.col("b.id"))
                 .distinct().count())
        all_pairs = n_docs * (n_docs - 1) // 2
        out = {"n_docs": n_docs, "blocked_candidate_pairs": cand,
               "all_pairs": all_pairs,
               "fraction": round(cand / max(all_pairs, 1), 6)}
        print(f"# tfidf blocking: {cand}/{all_pairs} pairs "
              f"({out['fraction']:.2%})", file=sys.stderr)
        return out
    except Exception as exc:                    # pragma: no cover
        print(f"# tfidf block stat skipped: {exc}", file=sys.stderr)
        return None


def _append_flush_stat(spark, sf_dir: str) -> dict | None:
    """Measured IO win of the append segment fast path: flush seconds
    for a 100-row append to the sf lineitem table as a SEGMENT commit
    vs the same append forced down the full-rewrite path (the
    pre-segment cost).  The ratio is the point: segment cost tracks
    the delta, rewrite cost tracks the table, so it widens linearly
    with corpus scale — at 100 TB it is the difference between an
    ingest tick and a day of IO."""
    import tempfile
    import time as _t

    try:
        import __spark_entry__ as entrymod
        from tostore_spark import ToStoreSpark
        li = entrymod._db(spark, sf_dir).df("lineitem")
        delta = li.limit(100).localCheckpoint(eager=True)
        out: dict = {"base_rows": li.count(), "delta_rows": 100}
        for mode in ("segment", "rewrite"):
            with tempfile.TemporaryDirectory() as tmp:
                db = ToStoreSpark(spark, warehouse=tmp)
                db.register_table("li", df=li)
                db.flush()
                db.append_rows("li", delta)
                if mode == "rewrite":
                    # poison the epoch: same rows, forced full path
                    db.set_df("li", db.df("li"))
                t0 = _t.time()
                db.flush()
                out[f"{mode}_flush_sec"] = round(_t.time() - t0, 3)
                segs = db._tables[("default", "li")]["segments"]
                out[f"{mode}_segments"] = len(segs)
        # TTL variant (r12 verdict what's-wrong #1): a retention table
        # now takes the SAME segment commit — flush cost ∝ delta (the
        # TTL filter applies to the delta, expired base rows sweep at
        # the amortized compaction), where it used to pay the rewrite
        # tier every flush
        from pyspark.sql import functions as F

        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig,
                                          PrimaryKeyType, TableSchema,
                                          TableTtlConfig)
        tsch = TableSchema(
            name="lit", primary_key=PrimaryKeyConfig(
                name="id", type=PrimaryKeyType.none),
            fields=[FieldSchema("l_quantity", DataType.double),
                    FieldSchema("created", DataType.datetime)],
            ttl=TableTtlConfig(ttl_ms=3_600_000,
                               source_field="created"))
        li_t = (li.selectExpr(
            "concat('r', cast(monotonically_increasing_id() as string))"
            " as id", "l_quantity")
            .withColumn("created", F.current_timestamp())
            .localCheckpoint(eager=True))
        delta_t = li_t.limit(100).localCheckpoint(eager=True)
        with tempfile.TemporaryDirectory() as tmp:
            db = ToStoreSpark(spark, warehouse=tmp)
            db.register_table("lit", df=li_t, schema=tsch)
            db.flush()
            db.append_rows("lit", delta_t)
            t0 = _t.time()
            db.flush()
            out["ttl_segment_flush_sec"] = round(_t.time() - t0, 3)
            out["ttl_segments"] = \
                len(db._tables[("default", "lit")]["segments"])
        return out
    except Exception as exc:                    # pragma: no cover
        print(f"# append flush stat skipped: {exc}", file=sys.stderr)
        return None


def _skipping_stat(spark, sf_dir: str) -> dict | None:
    """Measured effect of the data-skipping layer at sf scale: orders
    z-order-optimized into 8 files, then (a) a key-range query warm
    with file-grain skipping ON vs OFF (engine.data_skipping), (b) an
    unfiltered count() served from manifest footer stats vs forced to
    scan.  kept/total records how much of the scan the stats actually
    removed — the ratio is what grows with corpus size."""
    import tempfile
    import time as _t

    try:
        import __spark_entry__ as entrymod
        from tostore_spark import ToStoreSpark
        from tostore_spark.plans.layout import optimize_table
        orders = entrymod._db(spark, sf_dir).df("orders")
        out: dict = {}
        with tempfile.TemporaryDirectory() as tmp:
            db = ToStoreSpark(spark, warehouse=tmp)
            db.register_table("o", df=orders)
            optimize_table(db, "o", target_partitions=8,
                           zorder=["o_orderkey"])

            def _range_q():
                return (db.query("o")
                        .where_between("o_orderkey", 1000, 2000)
                        .df().count())

            for mode in ("on", "off"):
                db.data_skipping = (mode == "on")
                _range_q()                      # warm
                t0 = _t.time()
                _range_q()
                out[f"range_{mode}_warm_sec"] = round(_t.time() - t0, 3)
                if mode == "on":
                    out["files_kept"], out["files_total"] = \
                        db._last_prune_files
                t0 = _t.time()
                n = db.query("o").count()
                out[f"count_{mode}_sec"] = round(_t.time() - t0, 3)
            out["rows"] = n
            # (c) row-group grain (r11): a fat single-file unsorted-
            # write rewritten sorted with 15 row groups; the pushed
            # range must read ~1 group through the query path — the
            # scan_output_rows observable (plans/skipping)
            import os

            import pyarrow as pa
            import pyarrow.parquet as pq

            from tostore_spark.plans.skipping import scan_output_rows
            rgd = os.path.join(tmp, "rg")
            os.makedirs(rgd)
            keys = sorted(r["o_orderkey"]
                          for r in orders.select("o_orderkey").collect())
            rg_rows = max(len(keys) // 15, 1)
            pq.write_table(pa.table({"k": keys}),
                           os.path.join(rgd, "part-0.parquet"),
                           row_group_size=rg_rows)
            db.register_table("rg", df=spark.read.parquet(rgd))
            lo = keys[len(keys) // 2]
            q = db.query("rg").where_between("k", lo, lo + 500).df()
            # metrics populate on THIS df's own execution — count()
            # would spawn a separate plan and leave them at zero
            q.collect()
            out["rowgroup_scan_rows"] = scan_output_rows(q)
            out["rowgroup_total_rows"] = len(keys)
            out["rowgroup_size"] = rg_rows
        return out
    except Exception as exc:                    # pragma: no cover
        print(f"# skipping stat skipped: {exc}", file=sys.stderr)
        return None


def _mor_flush_stat(spark, sf_dir: str) -> dict | None:
    """Measured IO win of the merge-on-read mutation commits: flush
    seconds for a 100-row DELETE (deletion vector) and a 100-row
    UPDATE (replace epoch) against the sf lineitem-sized notes table,
    vs the same mutations forced down the full-rewrite path.  Like
    append_flush, the ratio widens linearly with corpus scale — the
    vector/replace cost tracks the touched rows, the rewrite cost
    tracks the table."""
    import tempfile
    import time as _t

    try:
        import __spark_entry__ as entrymod
        from tostore_spark import ToStoreSpark
        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig, TableSchema)
        li = entrymod._db(spark, sf_dir).df("lineitem")
        full = (li.selectExpr(
            "concat('r', cast(monotonically_increasing_id() as string))"
            " as id",
            "l_orderkey", "l_quantity", "l_returnflag")
            .localCheckpoint(eager=True))
        n_full = full.count()
        sch = TableSchema(
            name="t", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema("l_orderkey", DataType.integer),
                    FieldSchema("l_quantity", DataType.double),
                    FieldSchema("l_returnflag", DataType.text)])
        out: dict = {"touched_rows": 100}
        # two base sizes, 10x apart: the vector/replace flush should
        # stay ~flat while the forced rewrite scales with the base —
        # the measured form of the cost-class claim
        for label, size in (("small", max(1000, n_full // 10)),
                            ("large", n_full)):
            base = (full if size >= n_full
                    else full.limit(size).localCheckpoint(eager=True))
            ids = [r["id"] for r in base.limit(200).collect()]
            del_ids, upd_ids = ids[:100], ids[100:]
            blk: dict = {"base_rows": size}
            for mode in ("vector", "rewrite"):
                with tempfile.TemporaryDirectory() as tmp:
                    db = ToStoreSpark(spark, warehouse=tmp)
                    db.register_table("t", df=base, schema=sch)
                    db.flush()
                    db.delete_vectors = (mode == "vector")
                    n = db.delete("t").where("id", "IN",
                                             del_ids).execute()
                    assert n == 100, n
                    t0 = _t.time()
                    db.flush()
                    blk[f"delete_{mode}_flush_sec"] = \
                        round(_t.time() - t0, 3)
                    # update epoch on the same warehouse state
                    db.update("t", {"l_returnflag": "X"}) \
                      .where("id", "IN", upd_ids).execute()
                    t0 = _t.time()
                    db.flush()
                    blk[f"update_{mode}_flush_sec"] = \
                        round(_t.time() - t0, 3)
            out[label] = blk
        s, L = out["small"], out["large"]
        out["scale_x"] = {
            k: round(L[f"{k}_flush_sec"] / s[f"{k}_flush_sec"], 2)
            for k in ("delete_vector", "delete_rewrite",
                      "update_vector", "update_rewrite")
            if s.get(f"{k}_flush_sec")}
        # partitioned variant (r12 verdict order #1): the DV fast path
        # now covers hive-partitioned tables — the same 100-row delete
        # must flush ~flat in base size here too (it was pinned to the
        # rewrite tier, 2.48x at 10x base in r12)
        pblk: dict = {}
        for label, size in (("small", max(1000, n_full // 10)),
                            ("large", n_full)):
            base = (full if size >= n_full
                    else full.limit(size).localCheckpoint(eager=True))
            del_ids = [r["id"] for r in base.limit(100).collect()]
            with tempfile.TemporaryDirectory() as tmp:
                db = ToStoreSpark(spark, warehouse=tmp)
                db.register_table("t", df=base, schema=sch,
                                  partition_by=["l_returnflag"])
                db.flush()
                db.delete_vectors = True
                n = db.delete("t").where("id", "IN", del_ids).execute()
                assert n == 100, n
                t0 = _t.time()
                db.flush()
                pblk[f"{label}_delete_vector_flush_sec"] = \
                    round(_t.time() - t0, 3)
                ops = db._tables[("default", "t")]["ops"]
                assert ops and ops[-1][0] == "del", ops
        if pblk.get("small_delete_vector_flush_sec"):
            pblk["scale_x"] = round(
                pblk["large_delete_vector_flush_sec"]
                / pblk["small_delete_vector_flush_sec"], 2)
        out["partitioned"] = pblk
        return out
    except Exception as exc:                    # pragma: no cover
        print(f"# mor flush stat skipped: {exc}", file=sys.stderr)
        return None


def _stage_canary(spark) -> float:
    """Pure-Spark machine-speed probe (no repo code, no parquet in
    the path), recorded NEXT TO a tripwire family so a contested
    ratio can be adjudicated against the host state at the moment the
    family ran (the r15 builder/driver BENCH_DETAIL disagreement was
    unresolvable without this).  Median of 3; formula frozen r16."""
    import time as _t

    def once() -> float:
        t0 = _t.time()
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "sum(id * 2 + 1) AS s").collect()
        return _t.time() - t0
    once()                                  # codegen warm-up
    return round(sorted(once() for _ in range(3))[1], 3)


def _interop_export_stat(spark, sf_dir: str) -> dict | None:
    """O(delta) tripwire for the table-format interop WRITERS (r14;
    r16 hardening): seconds to export a 100-row APPEND and a 100-row
    DELETE at two base sizes 10x apart.  Every metric is a MED-OF-3
    over INDEPENDENT epochs and within each rep the small and large
    legs run ADJACENTLY (the graph_lifecycle precedent), with a
    per-stage canary recorded next to the family — the artifact
    adjudicates itself on a noisy shared host.  Append commits stage
    only the delta rows — expected ~flat in base size.  Delete
    commits pay one column-pruned, bounds-pruned key probe of the
    live export (the honest ∝-base term, same class as the store's
    own delete probe) plus O(delta) delete metadata; the CLUSTERED
    delete's keys bounds-prune to the matching files — expected
    ~flat."""
    import os as _os
    import tempfile
    import time as _t
    from contextlib import ExitStack
    from statistics import median

    try:
        import __spark_entry__ as entrymod
        from tostore_spark import ToStoreSpark
        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig, TableSchema)
        li = entrymod._db(spark, sf_dir).df("lineitem")
        full = (li.selectExpr(
            "concat('r', cast(monotonically_increasing_id() as string))"
            " as id",
            "l_orderkey", "l_quantity", "l_returnflag")
            .localCheckpoint(eager=True))
        n_full = full.count()
        # r17 layout: the unclustered table stages as a FIXED 16-file
        # layout on BOTH legs (a table at any real scale is
        # multi-file; an equal count isolates per-file probe cost in
        # scale_x).  Hash repartition scatters ids, so every file's
        # [min,max] id-range still spans the keyspace — bounds
        # pruning refutes nothing, exactly as before.
        _N_FILES = 16

        def _sch(name):
            return TableSchema(
                name=name, primary_key=PrimaryKeyConfig(name="id"),
                fields=[FieldSchema("l_orderkey", DataType.integer),
                        FieldSchema("l_quantity", DataType.double),
                        FieldSchema("l_returnflag", DataType.text)])
        REPS = 3
        METRICS = ("delta_append", "iceberg_append",
                   "delta_dv_delete", "iceberg_mor_delete",
                   "delta_dv_delete_clustered")
        out: dict = {"touched_rows": 100, "reps": REPS,
                     "method": "adjacent-leg med-of-3"}
        legs: dict = {}
        with ExitStack() as stack:
            for label, size in (("small", max(1000, n_full // 10)),
                                ("large", n_full)):
                tmp = stack.enter_context(
                    tempfile.TemporaryDirectory())
                base = (full if size >= n_full
                        else full.limit(size)
                        .localCheckpoint(eager=True))
                db = ToStoreSpark(spark,
                                  warehouse=_os.path.join(tmp, "wh"))
                db.register_table("t", df=base.repartition(_N_FILES),
                                  schema=_sch("t"))
                db.register_table("tc", df=base, schema=_sch("tc"))
                db.flush()
                ddel = _os.path.join(tmp, "dx")
                dice = _os.path.join(tmp, "ice")
                dcl = _os.path.join(tmp, "dcl")
                export_delta(db, "t", ddel, change_data=True)
                export_iceberg(db, "t", dice, mode="update")
                export_delta(db, "tc", dcl, target_files=8,
                             cluster_by=["id"])
                # delete keys: VALUE-random (each file's id range
                # spans the keyspace, so min/max refutes nothing) but
                # physically CO-BATCHED — the rows of one staged file,
                # i.e. the "roll back one ingest batch" delete shape
                # the per-file key blooms (r17) serve; scattered-value
                # deletes against a multi-file base probe ≤ the files
                # that hold the keys, at any base size
                from tostore_spark.plans.delta_export import _replay
                one_file = sorted(_replay(ddel)["files"])[0]
                ids = [r["id"] for r in
                       spark.read.parquet(_os.path.join(ddel, one_file))
                       .select("id").limit(REPS * 100).collect()]
                adj = [r["id"] for r in base.select("id")
                       .orderBy("id").limit(REPS * 100).collect()]
                legs[label] = {
                    "db": db, "base": base, "ddel": ddel,
                    "dice": dice, "dcl": dcl, "base_rows": size,
                    "del_batches": [ids[i * 100:(i + 1) * 100]
                                    for i in range(REPS)],
                    "adj_batches": [adj[i * 100:(i + 1) * 100]
                                    for i in range(REPS)],
                    "times": {k: [] for k in METRICS},
                }
            out["stage_canary_sec"] = _stage_canary(spark)
            # 100-row APPEND epochs: rep x adjacent legs
            for rep in range(REPS):
                for label in ("small", "large"):
                    L = legs[label]
                    db = L["db"]
                    db.append_rows("t", local_df(spark, 
                        [(f"a{rep}{i:03d}", 1, 1.0, "A")
                         for i in range(100)], L["base"].schema))
                    db.flush(only=["t"])
                    t0 = _t.time()
                    r = export_delta(db, "t", L["ddel"],
                                     mode="update",
                                     deletion_vectors=True)
                    L["times"]["delta_append"].append(_t.time() - t0)
                    assert r["commit"] == "append", r
                    t0 = _t.time()
                    r = export_iceberg(db, "t", L["dice"],
                                       mode="update")
                    L["times"]["iceberg_append"].append(
                        _t.time() - t0)
                    assert r["commit"] == "append", r
            # 100-row DELETE epochs (distinct key batches per rep)
            for rep in range(REPS):
                for label in ("small", "large"):
                    L = legs[label]
                    db = L["db"]
                    db.delete_vectors = True
                    n = db.delete("t").where(
                        "id", "IN", L["del_batches"][rep]).execute()
                    assert n == 100, n
                    db.flush(only=["t"])
                    t0 = _t.time()
                    r = export_delta(db, "t", L["ddel"],
                                     mode="update",
                                     deletion_vectors=True)
                    L["times"]["delta_dv_delete"].append(
                        _t.time() - t0)
                    assert r["commit"] == "dv", r
                    t0 = _t.time()
                    r = export_iceberg(db, "t", L["dice"],
                                       mode="update")
                    L["times"]["iceberg_mor_delete"].append(
                        _t.time() - t0)
                    # pure-delete epoch: the equality-delete route
                    assert r["commit"] in ("eqdel", "mor"), r
            # 100-row CLUSTERED DV deletes: adjacent key ranges, so
            # the bounds-pruned probe reads matching files only
            for rep in range(REPS):
                for label in ("small", "large"):
                    L = legs[label]
                    db = L["db"]
                    db.delete_vectors = True
                    n = db.delete("tc").where(
                        "id", "IN", L["adj_batches"][rep]).execute()
                    assert n == 100, n
                    db.flush(only=["tc"])
                    t0 = _t.time()
                    r = export_delta(db, "tc", L["dcl"],
                                     mode="update",
                                     deletion_vectors=True)
                    L["times"]["delta_dv_delete_clustered"].append(
                        _t.time() - t0)
                    assert r["commit"] == "dv", r
            for label in ("small", "large"):
                L = legs[label]
                blk: dict = {"base_rows": L["base_rows"]}
                for k in METRICS:
                    blk[f"{k}_sec"] = round(median(L["times"][k]), 3)
                    blk[f"{k}_reps"] = [round(x, 3)
                                        for x in L["times"][k]]
                out[label] = blk
        s, L_ = out["small"], out["large"]
        out["scale_x"] = {
            k: round(L_[f"{k}_sec"] / s[f"{k}_sec"], 2)
            for k in METRICS if s.get(f"{k}_sec")}
        out["note"] = (
            "delta_dv_delete: 16-file base on BOTH legs; keys are "
            "VALUE-random (every file's [min,max] spans the keyspace "
            "— bounds refute nothing) but co-batched in one staged "
            "file, the ingest-batch-rollback shape.  r17 per-file "
            "key blooms (_export_blooms.json) drop the keyless "
            "files, so the STEADY-STATE probe reads ~1 file at any "
            "base size (pre-r17 this row read 1.5-1.6x: the probe "
            "scanned the whole base).  Read the _reps arrays: rep0 "
            "carries the ONE-TIME lazy bloom build (O(base), paid "
            "once per file lifetime); the median reflects steady "
            "state, whose residual Δ is the probed file's size + the "
            "bloom sidecar parse — both bounded per file, never ∝ "
            "base.  The _clustered twin covers the value-clustered "
            "shape via bounds (expect ~flat)")
        return out
    except Exception as exc:                    # pragma: no cover
        print(f"# interop export stat skipped: {exc}", file=sys.stderr)
        return None


def _changelog_sync_stat(spark, sf_dir: str) -> dict | None:
    """Consumer/bridge tripwire (r15; r16 hardening — every metric a
    MED-OF-3 over independent epochs, small/large legs adjacent per
    rep, per-stage canary): seconds to (a) fold ONE 100-row epoch
    through ``read_iceberg_changes`` and (b) fold ONE Delta commit
    through ``sync_delta_to_iceberg``, at two base sizes 10x apart.
    Changelog appends derive inserts from the ADDED files only;
    bridge appends carry the prior manifest list VERBATIM (r16: zero
    prior-manifest decodes) — both expected ~flat; the changelog
    DELETE pull pays one bounds-pruned probe of the parent snapshot
    (the honest ~base term).  Two independent store tables keep the
    two commit streams clean."""
    import os as _os
    import tempfile
    import time as _t
    from contextlib import ExitStack
    from statistics import median

    try:
        import __spark_entry__ as entrymod
        from tostore_spark import ToStoreSpark
        from tostore_spark.plans.delta_export import optimize_delta
        from tostore_spark.plans.iceberg import (_load_metadata,
                                                 convert_delta_to_iceberg,
                                                 read_iceberg_changes,
                                                 sync_delta_to_iceberg)
        from tostore_spark.plans.xtable import (convert_iceberg_to_delta,
                                                sync_iceberg_to_delta)
        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig, TableSchema)
        li = entrymod._db(spark, sf_dir).df("lineitem")
        full = (li.selectExpr(
            "concat('r', cast(monotonically_increasing_id() as string))"
            " as id",
            "l_orderkey", "l_quantity", "l_returnflag")
            .localCheckpoint(eager=True))
        n_full = full.count()

        def _sch(name):
            return TableSchema(
                name=name, primary_key=PrimaryKeyConfig(name="id"),
                fields=[FieldSchema("l_orderkey", DataType.integer),
                        FieldSchema("l_quantity", DataType.double),
                        FieldSchema("l_returnflag", DataType.text)])
        REPS = 3
        METRICS = ("changes_append", "changes_delete",
                   "bridge_append", "bridge_optimize",
                   "bridge_dv_delete",
                   "reverse_append", "reverse_dv_delete")
        out: dict = {"touched_rows": 100, "reps": REPS,
                     "method": "adjacent-leg med-of-3"}
        legs: dict = {}
        with ExitStack() as stack:
            for label, size in (("small", max(1000, n_full // 10)),
                                ("large", n_full)):
                tmp = stack.enter_context(
                    tempfile.TemporaryDirectory())
                base = (full if size >= n_full
                        else full.limit(size)
                        .localCheckpoint(eager=True))
                db = ToStoreSpark(spark,
                                  warehouse=_os.path.join(tmp, "wh"))
                db.register_table("ti", df=base, schema=_sch("ti"))
                db.register_table("td", df=base, schema=_sch("td"))
                db.register_table("tr", df=base, schema=_sch("tr"))
                db.flush()
                dice = _os.path.join(tmp, "ice")
                ddel = _os.path.join(tmp, "dx")
                drev = _os.path.join(tmp, "rx")
                export_iceberg(db, "ti", dice, target_files=8)
                export_delta(db, "td", ddel, target_files=8)
                convert_delta_to_iceberg(spark, ddel)
                export_iceberg(db, "tr", drev, target_files=8)
                convert_iceberg_to_delta(spark, drev)
                ids = [r["id"] for r in
                       base.limit(REPS * 100).collect()]
                legs[label] = {
                    "db": db, "base": base, "dice": dice,
                    "ddel": ddel, "drev": drev, "base_rows": size,
                    "del_batches": [ids[i * 100:(i + 1) * 100]
                                    for i in range(REPS)],
                    "times": {k: [] for k in METRICS},
                }
            out["stage_canary_sec"] = _stage_canary(spark)
            # (a) changelog APPEND pulls: one fresh epoch per rep
            for rep in range(REPS):
                for label in ("small", "large"):
                    L = legs[label]
                    db = L["db"]
                    cur = _load_metadata(
                        L["dice"])["current-snapshot-id"]
                    db.append_rows("ti", local_df(spark, 
                        [(f"a{rep}{i:03d}", 1, 1.0, "A")
                         for i in range(100)], L["base"].schema))
                    db.flush(only=["ti"])
                    export_iceberg(db, "ti", L["dice"], mode="update")
                    t0 = _t.time()
                    n = read_iceberg_changes(
                        spark, L["dice"], from_snapshot=cur).count()
                    L["times"]["changes_append"].append(
                        _t.time() - t0)
                    assert n == 100, n
            # (b) changelog DELETE pulls: distinct key batches
            for rep in range(REPS):
                for label in ("small", "large"):
                    L = legs[label]
                    db = L["db"]
                    cur = _load_metadata(
                        L["dice"])["current-snapshot-id"]
                    db.delete("ti").where(
                        "id", "IN", L["del_batches"][rep]).execute()
                    db.flush(only=["ti"])
                    r = export_iceberg(db, "ti", L["dice"],
                                       mode="update")
                    assert r["commit"] in ("eqdel", "mor"), r
                    t0 = _t.time()
                    n = read_iceberg_changes(
                        spark, L["dice"], from_snapshot=cur).count()
                    L["times"]["changes_delete"].append(
                        _t.time() - t0)
                    assert n == 100, n
            # (c) bridge APPEND syncs
            for rep in range(REPS):
                for label in ("small", "large"):
                    L = legs[label]
                    db = L["db"]
                    db.append_rows("td", local_df(spark, 
                        [(f"p{rep}{i:03d}", 1, 1.0, "P")
                         for i in range(100)], L["base"].schema))
                    db.flush(only=["td"])
                    export_delta(db, "td", L["ddel"], mode="update")
                    t0 = _t.time()
                    r = sync_delta_to_iceberg(spark, L["ddel"])
                    L["times"]["bridge_append"].append(
                        _t.time() - t0)
                    assert r["snapshots"] == 1, r
            # (d) bridge OPTIMIZE syncs: per rep, two tiny appended
            # files then a compaction commit touching only them
            for rep in range(REPS):
                for label in ("small", "large"):
                    L = legs[label]
                    db = L["db"]
                    for j in range(2):
                        db.append_rows("td", local_df(spark, 
                            [(f"q{rep}{j}{i:03d}", 1, 1.0, "Q")
                             for i in range(100)], L["base"].schema))
                        db.flush(only=["td"])
                        export_delta(db, "td", L["ddel"],
                                     mode="update")
                        sync_delta_to_iceberg(spark, L["ddel"])
                    optimize_delta(spark, L["ddel"],
                                   target_file_bytes=16 * 1024,
                                   min_files=2)
                    t0 = _t.time()
                    sync_delta_to_iceberg(spark, L["ddel"])
                    L["times"]["bridge_optimize"].append(
                        _t.time() - t0)
            # (e) bridge DV-DELETE syncs (late r17): a 100-row Delta
            # deletion-vector commit folds as ONE position-delete
            # file with the prior manifest list carried VERBATIM —
            # driver-side bitmap decode + one tiny parquet write,
            # zero manifest decodes once the index exists; expect
            # ~flat across the 10x bases
            for rep in range(REPS):
                for label in ("small", "large"):
                    L = legs[label]
                    db = L["db"]
                    db.delete("td").where(
                        "id", "IN", L["del_batches"][rep]).execute()
                    db.flush(only=["td"])
                    r = export_delta(db, "td", L["ddel"],
                                     mode="update",
                                     deletion_vectors=True)
                    assert r["commit"] == "dv", r
                    t0 = _t.time()
                    rs = sync_delta_to_iceberg(spark, L["ddel"])
                    L["times"]["bridge_dv_delete"].append(
                        _t.time() - t0)
                    assert rs["snapshots"] == 1, rs
            # (f) REVERSE-bridge APPEND syncs (late r17,
            # plans/xtable): a 100-row Iceberg append snapshot folds
            # as ONE Delta add-only commit — driver metadata + one
            # footer read per new file; expect ~flat across bases
            for rep in range(REPS):
                for label in ("small", "large"):
                    L = legs[label]
                    db = L["db"]
                    db.append_rows("tr", local_df(spark, 
                        [(f"v{rep}{i:03d}", 1, 1.0, "V")
                         for i in range(100)], L["base"].schema))
                    db.flush(only=["tr"])
                    export_iceberg(db, "tr", L["drev"], mode="update")
                    t0 = _t.time()
                    rs = sync_iceberg_to_delta(spark, L["drev"])
                    L["times"]["reverse_append"].append(
                        _t.time() - t0)
                    assert rs["snapshots"] == 1, rs
            # (g) REVERSE-bridge DV-DELETE syncs: a 100-row MoR
            # position-delete snapshot (delete_route="position" — the
            # bridgeable kind) folds as a Delta deletion-vector
            # commit: pos-delete decode ∝ deleted rows + remove/
            # re-add of only the touched files.  The honest ∝-base
            # term is the touched-file re-add's footer stats read —
            # files, not rows
            for rep in range(REPS):
                for label in ("small", "large"):
                    L = legs[label]
                    db = L["db"]
                    db.delete("tr").where(
                        "id", "IN", L["del_batches"][rep]).execute()
                    db.flush(only=["tr"])
                    r = export_iceberg(db, "tr", L["drev"],
                                       mode="update",
                                       delete_route="position")
                    assert r["commit"] == "mor", r
                    t0 = _t.time()
                    rs = sync_iceberg_to_delta(spark, L["drev"])
                    L["times"]["reverse_dv_delete"].append(
                        _t.time() - t0)
                    assert rs["snapshots"] == 1, rs
            for label in ("small", "large"):
                L = legs[label]
                blk: dict = {"base_rows": L["base_rows"]}
                for k in METRICS:
                    blk[f"{k}_sec"] = round(median(L["times"][k]), 3)
                    blk[f"{k}_reps"] = [round(x, 3)
                                        for x in L["times"][k]]
                out[label] = blk
        s, L_ = out["small"], out["large"]
        out["scale_x"] = {
            k: round(L_[f"{k}_sec"] / s[f"{k}_sec"], 2)
            for k in METRICS if s.get(f"{k}_sec")}
        out["note"] = (
            "bridge_* legs are ~10 ms absolute (driver-side manifest "
            "arithmetic; r16 append path opens zero prior manifests; "
            "the late-r17 bridge_dv_delete leg adds one bitmap decode "
            "+ one tiny position-delete parquet, positions diffed "
            "against the bridge-dv-state sidecar) — their ratios "
            "ride fixed overhead, read the absolutes")
        return out
    except Exception as exc:                    # pragma: no cover
        print(f"# changelog sync stat skipped: {exc}", file=sys.stderr)
        return None


def _consumer_bootstrap_stat(spark, sf_dir: str) -> dict | None:
    """Consumer BOOTSTRAP tripwire (r16): a cursor-less first
    ``apply_iceberg_changes`` reads the TARGET SNAPSHOT (O(state)),
    so its cost must be ~FLAT in HISTORY LENGTH — measured on the
    same ~60k-row state under 4-commit vs 14-commit histories
    (both under the store's 16-segment auto-compaction bound, which
    would otherwise refresh the export mid-ladder),
    med-of-3 over independent consumers, legs adjacent.  The
    ``replay_*`` readings time the OLD path (the full changelog fold
    of the same history) for contrast — that one grows with commit
    count, which is why the bootstrap no longer rides it."""
    import os as _os
    import tempfile
    import time as _t
    from contextlib import ExitStack
    from statistics import median

    try:
        import __spark_entry__ as entrymod
        from tostore_spark import ToStoreSpark
        from tostore_spark.plans.iceberg import (read_iceberg_changes,
                                                 rewrite_data_files)
        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig, TableSchema)
        li = entrymod._db(spark, sf_dir).df("lineitem")
        base = (li.selectExpr(
            "concat('r', cast(monotonically_increasing_id() as string))"
            " as id",
            "l_orderkey", "l_quantity", "l_returnflag")
            .limit(60000).localCheckpoint(eager=True))

        def _sch(name):
            return TableSchema(
                name=name, primary_key=PrimaryKeyConfig(name="id"),
                fields=[FieldSchema("l_orderkey", DataType.integer),
                        FieldSchema("l_quantity", DataType.double),
                        FieldSchema("l_returnflag", DataType.text)])
        REPS = 3
        out: dict = {"state_rows": 60000, "reps": REPS,
                     "method": "adjacent-leg med-of-3"}
        legs: dict = {}
        with ExitStack() as stack:
            for label, commits in (("short", 4), ("long", 14)):
                tmp = stack.enter_context(
                    tempfile.TemporaryDirectory())
                db = ToStoreSpark(spark,
                                  warehouse=_os.path.join(tmp, "wh"))
                db.register_table("t", df=base, schema=_sch("t"))
                db.flush()
                dice = _os.path.join(tmp, "ice")
                export_iceberg(db, "t", dice, target_files=8)
                ids = [r["id"] for r in base.limit(100).collect()]
                n_live, n_changes, n_del = 60000, 60000, 0
                for c in range(commits - 1):
                    if c % 5 == 4:
                        # a delete epoch: replay pays a pre-image
                        # probe here; the bootstrap does not
                        batch = ids[n_del * 10:(n_del + 1) * 10]
                        db.delete("t").where("id", "IN",
                                             batch).execute()
                        n_del += 1
                        n_live -= 10
                        n_changes += 10
                    else:
                        db.append_rows("t", local_df(spark, 
                            [(f"h{c}{i:02d}", 1, 1.0, "H")
                             for i in range(10)], base.schema))
                        n_live += 10
                        n_changes += 10
                    db.flush(only=["t"])
                    export_iceberg(db, "t", dice, mode="update")
                # compact BOTH legs to the same physical shape: the
                # bootstrap then reads comparable layouts (history
                # length must not leak in through small-file debt),
                # while the replay fold still derives every ORIGINAL
                # epoch — compaction is a 'replace' it skips
                rewrite_data_files(spark, dice,
                                   target_file_bytes=128 << 20,
                                   min_files=2)
                legs[label] = {"tmp": tmp, "dice": dice,
                               "commits": commits,
                               "n_live": n_live,
                               "n_changes": n_changes,
                               "boot": [], "replay": []}
            out["stage_canary_sec"] = _stage_canary(spark)
            for rep in range(REPS):
                for label in ("short", "long"):
                    L = legs[label]
                    con = ToStoreSpark(spark, warehouse=_os.path.join(
                        L["tmp"], f"wc{rep}"))
                    con.create_table(_sch("t"))
                    t0 = _t.time()
                    r = con.apply_iceberg_changes("t", L["dice"])
                    L["boot"].append(_t.time() - t0)
                    assert r["applied"] == L["n_live"], r
                    t0 = _t.time()
                    n = read_iceberg_changes(spark, L["dice"]).count()
                    L["replay"].append(_t.time() - t0)
                    assert n == L["n_changes"], n
            for label in ("short", "long"):
                L = legs[label]
                out[label] = {
                    "commits": L["commits"],
                    "bootstrap_sec": round(median(L["boot"]), 3),
                    "bootstrap_reps": [round(x, 3)
                                       for x in L["boot"]],
                    "replay_fold_sec": round(median(L["replay"]), 3),
                    "replay_fold_reps": [round(x, 3)
                                         for x in L["replay"]],
                }
        out["scale_x"] = {
            "bootstrap": round(out["long"]["bootstrap_sec"]
                               / out["short"]["bootstrap_sec"], 2),
            "replay_fold": round(out["long"]["replay_fold_sec"]
                                 / out["short"]["replay_fold_sec"],
                                 2)}
        out["note"] = ("both legs are COMPACTED to the same "
                       "physical shape before measuring, so the "
                       "bootstrap reads ~the same live file set "
                       "(expect ~1x across 3.5x the commits) while "
                       "replay_fold — the old consumer path, kept "
                       "for contrast — still derives every ORIGINAL "
                       "epoch (pre-image probes on deletes) and "
                       "grows with history")
        return out
    except Exception as exc:                    # pragma: no cover
        print(f"# consumer bootstrap stat skipped: {exc}",
              file=sys.stderr)
        return None


def _interop_skip_stat(spark, sf_dir: str) -> dict | None:
    """Scan-planning tripwire for the interop READERS (r14 where=):
    seconds to run a FIXED-selectivity aggregate through
    ``read_delta(where=)`` / ``read_iceberg(where=)`` on a
    range-clustered export at two base sizes 10x apart (file size held
    ~constant, so file count grows 10x; the 10x base's extra rows live
    in shifted key ranges the predicate never matches).  Selective
    reads should stay ~flat — they touch the matching files, not the
    table — while the full-scan aggregate grows with the base.  Also
    records kept/total files from the pruners so a silently-broken
    refutation (reads everything, still correct) trips the artifact,
    not just the clock."""
    import os as _os
    import tempfile
    import time as _t

    try:
        import __spark_entry__ as entrymod
        from pyspark.sql import functions as F
        from tostore_spark import ToStoreSpark
        li = entrymod._db(spark, sf_dir).df("lineitem").selectExpr(
            "l_orderkey", "l_quantity", "l_returnflag")
        max_key = li.agg(F.max("l_orderkey")).first()[0] or 1
        lo, hi = 1, max(2, int(max_key) // 50)     # ~2% of key space
        base_small = li.selectExpr(
            "concat('r', cast(monotonically_increasing_id() as string))"
            " as id", "l_orderkey", "l_quantity", "l_returnflag"
        ).localCheckpoint(eager=True)
        shifted = None
        for rep in range(10):
            part = li.selectExpr(
                f"concat('x{rep}_', cast("
                "monotonically_increasing_id() as string)) as id",
                f"l_orderkey + {rep * (int(max_key) + 1)} as l_orderkey",
                "l_quantity", "l_returnflag")
            shifted = part if shifted is None \
                else shifted.unionByName(part)
        base_large = shifted.localCheckpoint(eager=True)
        out: dict = {"predicate": f"l_orderkey BETWEEN {lo} AND {hi}"}
        for label, base, files in (("small", base_small, 8),
                                   ("large", base_large, 80)):
            blk: dict = {"base_rows": base.count(), "files": files}
            with tempfile.TemporaryDirectory() as tmp:
                db = ToStoreSpark(spark,
                                  warehouse=_os.path.join(tmp, "wh"))
                db.register_table("t", df=base)
                db.flush()
                ddel = _os.path.join(tmp, "dx")
                dice = _os.path.join(tmp, "ice")
                export_delta(db, "t", ddel, target_files=files,
                             cluster_by=["l_orderkey"])
                export_iceberg(db, "t", dice, target_files=files,
                               cluster_by=["l_orderkey"])
                where = {"l_orderkey": {"BETWEEN": {"start": lo,
                                                    "end": hi}}}
                # kept/total from the pruners (file-level observable)
                import json as _json

                from pyspark.sql.types import StructType
                from tostore_spark.condition import to_condition_node
                from tostore_spark.plans.delta_export import (
                    _coerce_where_values, _prune_adds, _replay)
                from tostore_spark.plans.iceberg import (
                    _load_metadata, _pick_snapshot, _prune_by_stats,
                    _scan_files, _schema_for_snapshot)
                st = _replay(ddel, None)
                dsch = StructType.fromJson(
                    _json.loads(st["meta"]["schemaString"]))
                node = _coerce_where_values(
                    to_condition_node(where), dsch)
                blk["delta_kept_files"] = len(_prune_adds(
                    st["files"], node, dsch,
                    {f.name: f.name for f in dsch.fields}, []))
                meta = _load_metadata(dice)
                snap = _pick_snapshot(meta)
                sj = _schema_for_snapshot(meta, snap)
                data, _pd, _ed, parts, fstats = _scan_files(
                    meta, snap, dice)
                blk["iceberg_kept_files"] = len(_prune_by_stats(
                    meta, sj, data, parts, fstats, node))
                # timings: full-scan aggregate vs selective aggregate
                from tostore_spark.plans.delta_export import read_delta
                from tostore_spark.plans.iceberg import read_iceberg
                t0 = _t.time()
                read_delta(spark, ddel).agg(
                    F.sum("l_quantity")).collect()
                blk["delta_full_sec"] = round(_t.time() - t0, 3)
                t0 = _t.time()
                read_delta(spark, ddel, where=where).agg(
                    F.sum("l_quantity")).collect()
                blk["delta_sel_sec"] = round(_t.time() - t0, 3)
                t0 = _t.time()
                read_iceberg(spark, dice).agg(
                    F.sum("l_quantity")).collect()
                blk["iceberg_full_sec"] = round(_t.time() - t0, 3)
                t0 = _t.time()
                read_iceberg(spark, dice, where=where).agg(
                    F.sum("l_quantity")).collect()
                blk["iceberg_sel_sec"] = round(_t.time() - t0, 3)
            out[label] = blk
        s, L = out["small"], out["large"]
        out["scale_x"] = {
            k: round(L[f"{k}_sec"] / s[f"{k}_sec"], 2)
            for k in ("delta_full", "delta_sel",
                      "iceberg_full", "iceberg_sel")
            if s.get(f"{k}_sec")}
        return out
    except Exception as exc:                    # pragma: no cover
        print(f"# interop skip stat skipped: {exc}", file=sys.stderr)
        return None


def _cdc_flat_stat(spark, sf_dir: str) -> dict | None:
    """Measured flatness of del-epoch CDC in base size (the r10
    verdict's ordered artifact): same 100-row delete delta against a
    small and a 10x base, `table_diff` across the delete epoch timed
    cold.  Since r11 the pre-image pass (a) evolves the state
    incrementally across the tail instead of refolding the base per
    delete epoch and (b) prunes base segments whose footer stats are
    disjoint from the broadcast key set (store._cdc_base_state) — so
    with a multi-segment base only the key-bearing segments are read
    and the diff cost tracks the delta, not the table."""
    import tempfile
    import time as _t

    try:
        import __spark_entry__ as entrymod
        from tostore_spark import ToStoreSpark
        from tostore_spark import store as S
        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig, TableSchema)
        li = entrymod._db(spark, sf_dir).df("lineitem")
        full = (li.selectExpr(
            "concat('r', cast(monotonically_increasing_id() as string))"
            " as id",
            "l_orderkey", "l_quantity", "l_returnflag")
            .localCheckpoint(eager=True))
        n_full = full.count()
        sch = TableSchema(
            name="t", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema("l_orderkey", DataType.integer),
                    FieldSchema("l_quantity", DataType.double),
                    FieldSchema("l_returnflag", DataType.text)])
        out: dict = {"touched_rows": 100}
        for label, size in (("small", max(1000, n_full // 10)),
                            ("large", n_full)):
            base = (full if size >= n_full
                    else full.limit(size).localCheckpoint(eager=True))
            # two base segments so the key-set prune has something to
            # drop: keys are taken from the SECOND half only
            h1 = base.limit(size // 2).localCheckpoint(eager=True)
            h2 = (base.subtract(h1)).localCheckpoint(eager=True)
            del_ids = [r["id"] for r in h2.limit(100).collect()]
            with tempfile.TemporaryDirectory() as tmp:
                db = ToStoreSpark(spark, warehouse=tmp)
                db.register_table("t", df=h1, schema=sch)
                db.flush()
                db.append_rows("t", h2)
                db.flush()
                v_from = db._generations[("default", "t")]
                db.delete("t").where("id", "IN", del_ids).execute()
                db.flush()
                v_to = db._generations[("default", "t")]
                t0 = _t.time()
                n = S.table_diff(db, "t", v_from, v_to).count()
                out[f"{label}_diff_sec"] = round(_t.time() - t0, 3)
                out[f"{label}_base_rows"] = size
                out[f"{label}_diff_rows"] = n
                out[f"{label}_pruned"] = getattr(db, "_last_cdc_prune",
                                                 None)
        if out.get("small_diff_sec"):
            out["scale_x"] = round(out["large_diff_sec"]
                                   / out["small_diff_sec"], 2)
        return out
    except Exception as exc:                    # pragma: no cover
        print(f"# cdc flat stat skipped: {exc}", file=sys.stderr)
        return None


def _ppl_floor_stat(spark, sf_dir: str) -> dict | None:
    """Cost attribution for the q_ppl_buckets entry: warm seconds for
    the LM train+score pass ALONE — the floor under any bucketing tier.

    TWO floors since r11, because the legacy one was a measurement
    artifact that manufactured a phantom regression:

    - ``train_score_warm_sec`` (legacy series): train +
      ``score.count()``.  A bare count lets Catalyst PRUNE the bits
      column math out of the scoring plan (measured r11: pruned count
      0.94s vs unprunable full aggregate 1.77s over the same lineage),
      so this number UNDERSTATES the true scoring cost by ~0.85s at
      sf0.1.  The r9->r10 rise 1.049 -> 1.431 was this artifact
      unwinding, not a regression: pre-r10 the lazy training frames
      also pruned under the count, while the r10 eager
      ``localCheckpoint`` of the bigram counts materializes them
      UNPRUNED in a blocking call (~0.87s measured alone) — moving
      real, previously-hidden work inside the measured region while
      making the true end-to-end FASTER (measured side by side at
      r11: lazy train + full score 2.02s vs checkpointed 1.83s;
      ReusedExchange count 0 in the lazy plan, so laziness re-derives,
      it does not dedupe).
    - ``train_score_full_warm_sec`` (honest floor): train + an
      unprunable full aggregate over every scored column.  The
      bucketing overhead is measured against THIS.

    Alternatives measured and rejected at r11 (all slower or flat at
    sf0.1, parity-exact): sharing one eagerly-pinned exploded bigram
    frame between train and score (ckpt write/read of the 270k-row
    explode costs what the second explode costs); inlining the consts
    row as literals (saves one 1-row crossJoin job, <0.03s); fusing
    train+score through a per-doc bigram-count frame (261k of 270k
    bigram rows are distinct in this corpus — the fused checkpoint
    outweighs the saved explode, 2.66s vs 1.94s).  The residual
    entry-minus-honest-floor is the rank-window bucketing + final
    aggregate, ~0.1-0.4s of fixed stage overhead at sf0.1."""
    import time as _t

    try:
        import __spark_entry__ as entrymod
        from pyspark.sql import functions as F
        from tostore_spark.llmops import lm as LM
        docs = entrymod._db(spark, sf_dir).df("documents")
        for _ in range(2):          # second pass = warm reading
            t0 = _t.time()
            model = LM.train_ngram_lm(docs, n=2)
            LM.ngram_bits_per_token(docs, model).count()
            warm = round(_t.time() - t0, 3)
        for _ in range(2):
            t0 = _t.time()
            model = LM.train_ngram_lm(docs, n=2)
            (LM.ngram_bits_per_token(docs, model)
             .agg(F.sum("bits_per_token"), F.sum("n_tokens"),
                  F.count("id")).collect())
            full_warm = round(_t.time() - t0, 3)
        # the full entry timed ADJACENTLY in the same warm context, so
        # the bucketing overhead (entry - floor) is internally
        # consistent — the extras table's q_ppl_buckets row is measured
        # minutes apart and drifts with session state.
        fn = entrymod.queries()["q_ppl_buckets"]
        for _ in range(2):
            t0 = _t.time()
            fn(spark, sf_dir).count()
            entry_warm = round(_t.time() - t0, 3)
        return {"train_score_warm_sec": warm,
                "train_score_full_warm_sec": full_warm,
                "entry_warm_sec": entry_warm,
                "bucketing_overhead_sec": round(entry_warm - full_warm, 3),
                "pruned_floor_understates_sec": round(full_warm - warm, 3)}
    except Exception as exc:                    # pragma: no cover
        print(f"# ppl floor stat skipped: {exc}", file=sys.stderr)
        return None


def _groupby_having_attrib(spark, sf_dir: str) -> dict | None:
    """Attribution for the q_groupby_having warm drift the r10 verdict
    flagged (0.318 -> 0.386 over two rounds in UNTOUCHED code): median
    of 5 for the entry, the raw-Spark equivalent of the same plan, and
    the plan-build-only cost, all in one context.  The r11 plan audit
    pinned the physical plan identical to hand-written Spark (3-column
    scan -> partial agg -> single exchange -> final agg -> filter, no
    extra projection), so entry-minus-raw is builder plan-build plus
    session noise, and the round-over-round drift is the extras table's
    measurement position (50+ queries run before it), not the operator.
    Measured r11 (canary-0.42 host): entry 0.55 median == r10's 0.386
    canary-normalized; raw 0.34; build-only 0.066."""
    import time as _t

    try:
        import __spark_entry__ as entrymod
        from pyspark.sql import functions as F
        fn = entrymod.queries()["q_groupby_having"]

        def med5(f):
            ts = []
            for _ in range(5):
                t0 = _t.time()
                f()
                ts.append(_t.time() - t0)
            return round(sorted(ts)[2], 3)

        entry = med5(lambda: fn(spark, sf_dir).count())
        li = entrymod._db(spark, sf_dir).df("lineitem")
        raw = med5(lambda: (
            li.groupBy("l_returnflag", "l_linestatus")
              .agg(F.count(F.lit(1)).alias("cnt"),
                   F.sum("l_quantity").alias("s"),
                   F.avg("l_quantity").alias("a"),
                   F.min("l_quantity").alias("mn"),
                   F.max("l_quantity").alias("mx"))
              .filter("cnt > 100").count()))
        build = med5(lambda: fn(spark, sf_dir))
        return {"entry_warm_med5_sec": entry,
                "raw_spark_med5_sec": raw,
                "plan_build_med5_sec": build,
                "note": "physical plan identical to raw Spark "
                        "(plan-audited r11); gap = build + session noise"}
    except Exception as exc:                    # pragma: no cover
        print(f"# gbh attrib skipped: {exc}", file=sys.stderr)
        return None


def _fuzzy_block_stat(spark, sf_dir: str) -> dict | None:
    """Measured candidate-pair counts for ``fuzzy_join``'s two blocking
    modes on the documents fixture (key = the doc's first two words —
    an ER-style short key with varied lengths AND prefixes), mirroring
    ``tfidf_blocking``: the r8 prefix default landed on argument alone;
    this records the sub-quadratic claim as a number.  ``all_pairs`` is
    the ordered n² ceiling (candidates are ordered and include self,
    matching what the join would evaluate levenshtein over)."""
    try:
        from pyspark.sql import functions as F

        from tostore_spark.joins import fuzzy_candidates
        docs = spark.read.parquet(os.path.join(sf_dir,
                                               "documents.parquet"))
        keys = (docs.select(
                    F.col("doc_id").alias("id"),
                    F.array_join(F.slice(F.split(F.col("text"), " "),
                                         1, 2), " ").alias("k"))
                    .filter(F.length("k") > 0)
                    .localCheckpoint(eager=True))
        n = keys.count()
        right = keys.select(F.col("id").alias("rid"),
                            F.col("k").alias("k2"))
        length_pairs = fuzzy_candidates(
            keys, right, "k", right_field="k2", max_dist=2,
            blocking="length").count()
        prefix_pairs = fuzzy_candidates(
            keys, right, "k", right_field="k2", max_dist=2,
            blocking="prefix").count()
        out = {"n_keys": n, "prefix_pairs": prefix_pairs,
               "length_pairs": length_pairs, "all_pairs": n * n,
               "prefix_fraction_of_length":
                   round(prefix_pairs / max(length_pairs, 1), 6)}
        print(f"# fuzzy blocking: prefix {prefix_pairs} vs length "
              f"{length_pairs} of {n * n} ordered pairs "
              f"({out['prefix_fraction_of_length']:.2%} of the band)",
              file=sys.stderr)
        return out
    except Exception as exc:                    # pragma: no cover
        print(f"# fuzzy block stat skipped: {exc}", file=sys.stderr)
        return None


def _tier_extras(spark, sf_dir: str):
    """Approx-tier variants of the gate operators, timed as bench
    extras: the oracle entries stay on the exact tier (DuckDB-
    reproducible), so the ``exact=False`` cost class — the one a
    100 TB per-batch gate actually runs — is measured here under the
    same cold/warm protocol.  Accuracy is pytest-bounded against the
    exact tier (test_admin.py), not oracle-checked."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from tostore_spark.plans.stats import (drift_report_quantile,
                                           robust_outliers)
    db = entrymod._db(spark, sf_dir)

    def robust_approx(_spark, _sf):
        return (robust_outliers(db.df("events"), "value", k=3.5,
                                exact=False)
                .agg(F.sum(F.col("value_outlier").cast("long"))
                      .alias("n_outliers")))

    def ppl_approx(_spark, _sf):
        from tostore_spark.llmops import lm as LM
        docs = db.df("documents")
        model = LM.train_ngram_lm(docs, n=2)
        scored = LM.ngram_bits_per_token(docs, model)
        j = (docs.select(F.col("doc_id").alias("id"), "lang")
                 .join(scored, "id", "left"))
        return (LM.ppl_buckets(j, by="lang", exact=False)
                .groupBy("lang", "ppl_bucket")
                .agg(F.count(F.lit(1)).alias("n")))

    def decile_approx(_spark, _sf):
        o = db.df("orders")
        ref = o.filter(F.col("o_orderdate") < F.lit("1998-01-01"))
        cur = o.filter(F.col("o_orderdate") >= F.lit("1998-01-01"))
        return drift_report_quantile(ref, cur, "o_totalprice",
                                     n_buckets=10, exact=False)

    return {"q_robust_outliers_approx": robust_approx,
            "q_ppl_buckets_approx": ppl_approx,
            "q_drift_psi_decile_approx": decile_approx}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    import __spark_entry__ as entrymod
    from tostore_spark import get_spark

    spark = get_spark(app_name="tostore-spark-bench")

    qs = entrymod.queries()
    headline = [
        "q_filter_sort_limit",
        "q_groupby_having",
        "q_global_agg",
        "q_join_inner_group",
        "q_left_join_count",
        "q_events_window",
        "q_keyset_page",
        "q_vector_cosine_topk",
        "q_knn_join",
        "q_dedup_minhash_lsh",
        "q_text_stats",
        "q_or_union_dedup",
    ]
    # warm the JVM (whole-stage codegen paths), parquet footers, and file
    # listings once with trivial actions — session startup cost is not
    # query cost.  No query results are precomputed or cached.
    db = entrymod._db(spark, sf_dir)
    for t in ("region", "lineitem", "orders", "customer", "events",
              "documents", "embeddings"):
        db.df(t).count()

    # machine-speed canary: pure-Spark work with no repo code in the path,
    # so cross-round deltas can be attributed to host state vs the engine.
    # Median of 3 to shave scheduler noise.
    def _canary_once() -> float:
        t0 = time.time()
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "sum(id * 2 + 1) AS s").collect()
        db.df("lineitem").selectExpr(
            "sum(l_extendedprice * (1.0 - l_discount)) AS rev").collect()
        return time.time() - t0
    _canary_once()                       # untimed codegen warm-up
    canary = round(sorted(_canary_once() for _ in range(3))[1], 3)
    print(f"# canary: {canary}s", file=sys.stderr)

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in headline:
        fn = qs[name]
        # cold: nothing of this query's internal state may pre-exist —
        # clear persisted datasets (e.g. a prior query's LSH index) so the
        # timing includes every build cost
        spark.catalog.clearCache()
        t0 = time.time()
        n = fn(spark, sf_dir).count()   # full execution, no collect cost
        cold[name] = round(time.time() - t0, 3)
        # warm: immediate re-execution with session caches as they are
        t0 = time.time()
        fn(spark, sf_dir).count()
        warm[name] = round(time.time() - t0, 3)
        print(f"# {name}: cold={cold[name]}s warm={warm[name]}s rows={n}",
              file=sys.stderr)
    spark.catalog.clearCache()   # leave no persist leaks behind

    total_cold = round(sum(cold.values()), 3)
    total_warm = round(sum(warm.values()), 3)

    # round-6 operator families, timed OUTSIDE the headline totals so
    # `value` stays r1-comparable; same cold/warm protocol
    extras_cold: dict[str, float] = {}
    extras_warm: dict[str, float] = {}
    for name in ("q_scd2_history", "q_mv_incremental", "q_funnel",
                 "q_cohort_retention", "q_grouping_sets",
                 "q_topic_balance", "q_bloom_join", "q_histogram",
                 "q_column_corr", "q_split_corpus",
                 "q_resample", "q_paragraph_dedup", "q_outer_join_shapes",
                 "q_topk_per_group", "q_moving_time_window",
                 "q_validate_rules", "q_scd2_lookup", "q_pagerank",
                 "q_dsir_weights", "q_gopher_report", "q_winsorize",
                 "q_attribution", "q_temperature_sample",
                 # round-7 operators (q_fuzzy_match excluded: the
                 # synthetic customer names share one length AND one
                 # prefix, collapsing both blockings to a single block
                 # — quadratic at sf0.1; the prefix default's
                 # sub-quadratic contract is pinned in pytest on a
                 # varied-prefix fixture)
                 "q_tpch_q4", "q_tpch_q12", "q_tpch_q14", "q_tpch_q19",
                 "q_rolling_active", "q_tfidf_terms", "q_tfidf_pairs",
                 "q_grouped_percentiles", "q_winsorize_grouped",
                 "q_event_paths", "q_tpch_q6", "q_tpch_q1",
                 "q_lm_score_trigram", "q_ppl_buckets",
                 # round-8 operators
                 "q_tpch_q17", "q_tpch_q21", "q_tpch_q18",
                 "q_tpch_q22", "q_tpch_q5", "q_tpch_q15", "q_tpch_q7",
                 "q_tpch_q8", "q_tpch_q13", "q_stream_interval_join",
                 "q_seasonal_decompose", "q_drift_psi", "q_drift_mix",
                 "q_drift_psi_decile", "q_robust_outliers",
                 # round-9 operators
                 "q_robust_outliers_grouped",
                 # round-10 operators (the r9 verdict's missing graph /
                 # hard-negatives timing evidence)
                 "q_similarity_graph", "q_hard_negatives"):
        fn = qs[name]
        spark.catalog.clearCache()
        t0 = time.time()
        n = fn(spark, sf_dir).count()
        extras_cold[name] = round(time.time() - t0, 3)
        t0 = time.time()
        fn(spark, sf_dir).count()
        extras_warm[name] = round(time.time() - t0, 3)
        print(f"# extra {name}: cold={extras_cold[name]}s "
              f"warm={extras_warm[name]}s rows={n}", file=sys.stderr)
    # approx-tier variants (pytest-bounded, not oracle entries) under
    # the same protocol — the 100 TB per-batch-gate cost class
    for name, fn in _tier_extras(spark, sf_dir).items():
        spark.catalog.clearCache()
        t0 = time.time()
        n = fn(spark, sf_dir).count()
        extras_cold[name] = round(time.time() - t0, 3)
        t0 = time.time()
        fn(spark, sf_dir).count()
        extras_warm[name] = round(time.time() - t0, 3)
        print(f"# extra {name}: cold={extras_cold[name]}s "
              f"warm={extras_warm[name]}s rows={n}", file=sys.stderr)
    spark.catalog.clearCache()

    # r11 verdict #1: the sf1 scale spot runs BEFORE the checkpoint-
    # heavy recall/lifecycle stages (their localCheckpoint blocks were
    # skewing the spot 5x); each stage releases its blocks regardless.
    sf1 = _sf1_spot(spark, sf_dir, cold)
    recall = _recall_gate(spark, sf_dir)
    graph_lifecycle = _graph_lifecycle_stat(spark, sf_dir)
    tfidf_block = _tfidf_block_stat(spark, sf_dir)
    fuzzy_block = _fuzzy_block_stat(spark, sf_dir)
    ppl_floor = _ppl_floor_stat(spark, sf_dir)
    gbh = _groupby_having_attrib(spark, sf_dir)
    append_flush = _append_flush_stat(spark, sf_dir)
    mor_flush = _mor_flush_stat(spark, sf_dir)
    cdc_flat = _cdc_flat_stat(spark, sf_dir)
    interop_export = _interop_export_stat(spark, sf_dir)
    interop_skip = _interop_skip_stat(spark, sf_dir)
    changelog_sync = _changelog_sync_stat(spark, sf_dir)
    consumer_bootstrap = _consumer_bootstrap_stat(spark, sf_dir)
    skipping = _skipping_stat(spark, sf_dir)

    # Detail block (extras/recall/sf1/methodology): written to a committed
    # sidecar AND printed on an EARLIER stderr line.  The driver captures
    # only a bounded tail of stdout, so the FINAL stdout line must stay
    # compact (r6 lesson: a 3,315-char line overflowed the 2,000-char tail
    # capture and shipped as parsed:null).
    detail = {
        "extras": {"cold": extras_cold, "warm": extras_warm,
                   "note": "non-headline operator families, excluded from "
                           "value/value_warm for cross-round comparability"},
        "recall": recall,
        "graph_lifecycle": graph_lifecycle,
        "sf1_spot": sf1,
        "tfidf_blocking": tfidf_block,
        "fuzzy_blocking": fuzzy_block,
        "ppl_floor": ppl_floor,
        "groupby_having": gbh,
        "append_flush": append_flush,
        "mor_flush": mor_flush,
        "cdc_flat": cdc_flat,
        "interop_export": interop_export,
        "interop_skip": interop_skip,
        "changelog_sync": changelog_sync,
        "consumer_bootstrap": consumer_bootstrap,
        "skipping": skipping,
        # r11-verdict #6 adjudication (measured r12, adjacent med-of-5
        # per pair in one clean session at sf0.1, canary-comparable
        # host): the r11 extras' approx-slower-than-exact inversion was
        # POSITION NOISE.  Clean readings: robust_outliers 3.834s exact
        # vs 0.372s approx (10.3x), drift_psi_decile 2.460 vs 0.778
        # (3.2x), ppl_buckets 1.984 vs 1.933 (~equal — the shared LM
        # train+score floor dominates both tiers; only the bucket-edge
        # stage differs, ~0.3s of the total).  The approx tiers earn
        # their keep at this sf already; no crossover doc needed.
        "tier_adjudication": {
            "q_robust_outliers": {"exact_med5": 3.834,
                                  "approx_med5": 0.372},
            "q_drift_psi_decile": {"exact_med5": 2.460,
                                   "approx_med5": 0.778},
            "q_ppl_buckets": {"exact_med5": 1.984,
                              "approx_med5": 1.933},
            "note": "measured r12 adjacent med-of-5; see comment above",
        },
        # the headline's host-speed probe, repeated here so the detail
        # numbers normalize without cross-referencing BENCH_r{N}.json
        "canary_sec": canary,
        "methodology": ("cold_first_run (value/queries; r1-comparable) "
                        "+ steady_state_second_run (value_warm/queries_warm; "
                        "r2-comparable); canary_sec = fixed machine-speed "
                        "probe, engine-independent; sf1_spot = 10x derived "
                        "corpus scale check for the dedup/ANN operators "
                        "(graph row: 1x/3x/10x ladder with fitted "
                        "power-law exponents, r13); the MUTATION-path "
                        "O(delta) tripwires are mor_flush (100-row "
                        "delete/update flush at 1x vs 10x base, + the "
                        "partitioned delete_vector row) and append_flush "
                        "(segment vs rewrite tier, + the TTL-table row) — "
                        "same per-round regression role as the sf1 spot, "
                        "measured at sf0.1 scale; r16: interop_export "
                        "and changelog_sync metrics are med-of-3 over "
                        "independent epochs with small/large legs "
                        "ADJACENT per rep and a stage_canary_sec "
                        "recorded next to each family (formula: "
                        "range-sum probe, med-of-3)"),
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print("# detail: " + json.dumps(detail), file=sys.stderr)

    headline_line = json.dumps({
        "metric": "headline_queries_total_sec",
        "value": total_cold,
        "unit": "sec",
        "queries": cold,
        "value_warm": total_warm,
        "queries_warm": warm,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "canary_sec": canary,
    })
    # hard guard: the driver's tail capture is 2,000 chars; keep margin
    assert len(headline_line) < 1800, (
        f"bench headline line too long ({len(headline_line)} chars) — "
        "move fields to BENCH_DETAIL.json")
    print(headline_line)


if __name__ == "__main__":
    main()
