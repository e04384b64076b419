"""Training-data pipeline composition: sampling, corpus cleaning, sharding.

The operators a 100 TB pretraining-data pipeline runs after the per-document
analyses (llmops.text) and dedup (llmops.dedup):

- deterministic hash sampling (reproducible across runs/engines — the
  sample is a pure function of the id, no RNG state, so resuming a crashed
  job or re-running a stage yields the same sample),
- stratified variants with per-stratum rates,
- a composed clean_corpus filter (dedup keep-first + quality + language),
- token-balanced shard assignment for writing training chunks.

Everything is pure Column math over one scan — no shuffle except where the
semantics require one (global token-ordered sharding), and that one is a
single row_number window.  All operators are exactly reproducible in ANSI
SQL for the DuckDB oracle (md5 is the shared hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tostore_spark.broadcast import broadcast
from tostore_spark.llmops import text as TX
from tostore_spark.pin import pin


def hash_fraction(id_col: Column) -> Column:
    """Deterministic pseudo-uniform in [0, 10000): first 32 bits of
    md5(id) mod 10000 — reproducible in any engine that has md5."""
    return F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10) \
            .cast("long") % 10000


def hash_sample(df: DataFrame, rate: float, id_field: str = "doc_id") -> DataFrame:
    """Keep ~rate of rows, chosen deterministically by id hash.  Unlike
    df.sample(), re-running (or resuming after failure) selects the SAME
    rows, and the sample composes with pushdown (it is just a filter)."""
    return df.filter(hash_fraction(F.col(id_field)) < int(rate * 10000))


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      strata_field: str = "source",
                      id_field: str = "doc_id",
                      default_rate: float = 0.0) -> DataFrame:
    """Per-stratum deterministic sampling — the up/down-weighting step of a
    data-mixture recipe (e.g. keep 100% of wiki, 10% of crawl)."""
    frac = hash_fraction(F.col(id_field))
    keep = F.lit(int(default_rate * 10000))
    for value, rate in rates.items():
        keep = F.when(F.col(strata_field) == value,
                      F.lit(int(rate * 10000))).otherwise(keep)
    return df.filter(frac < keep)


def weighted_sample(df: DataFrame, weight: Column | str,
                    id_field: str = "doc_id") -> DataFrame:
    """Per-row-probability sampling: keep each row with probability equal
    to its OWN ``weight`` column (clamped to [0, 1]) — the continuous
    generalization of ``stratified_sample`` for importance-weighted
    mixtures (e.g. keep-probability from a quality score, a domain
    weight model, or an upstream temperature schedule).

    Deterministic like the rest of the family: the coin is the md5 hash
    of the id, so re-running, resuming, or recomputing a lost partition
    keeps exactly the same rows — df.sample() guarantees none of that.
    Pure column math; composes with pushdown; zero shuffles."""
    w = F.col(weight) if isinstance(weight, str) else weight
    keep = (F.greatest(F.lit(0.0), F.least(F.lit(1.0), w.cast("double")))
            * 10000).cast("long")
    return df.filter(hash_fraction(F.col(id_field)) < keep)


def stratified_take(df: DataFrame, k: int,
                    strata_field: str = "source",
                    id_field: str = "doc_id") -> DataFrame:
    """EXACTLY ``k`` rows per stratum (or all rows of smaller strata),
    chosen deterministically by md5(id) order — the fixed-size counterpart
    of ``stratified_sample`` for building eval sets and balanced mixtures.
    One partitioned window per stratum (no global sort); re-running or
    resuming selects the same rows."""
    w = (Window.partitionBy(strata_field)
         .orderBy(F.md5(F.col(id_field).cast("string")).asc(),
                  F.col(id_field).asc()))
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= k).drop("__rn"))


def clean_corpus(df: DataFrame, min_quality: float = 0.5,
                 languages: list[str] | None = None,
                 dedup: bool = True,
                 text_field: str = "text",
                 id_field: str = "doc_id") -> DataFrame:
    """The composed cleaning pass: exact-dedup (keep the lowest id per
    fingerprint), quality floor, language allowlist — one declarative plan,
    one shuffle (the dedup groupBy)."""
    t = F.col(text_field)
    out = df.withColumn("quality", TX.quality_score(t)) \
            .withColumn("lang_guess", TX.language_id(t))
    out = out.filter(F.col("quality") >= min_quality)
    if languages:
        out = out.filter(F.col("lang_guess").isin(languages))
    if dedup:
        w = Window.partitionBy(TX.fingerprint(t)).orderBy(F.col(id_field).asc())
        out = (out.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
    return out


def shard_by_tokens(df: DataFrame, n_shards: int,
                    text_field: str = "text",
                    id_field: str = "doc_id",
                    exact: bool = False,
                    n_groups: int = 32) -> DataFrame:
    """Assign documents to ``n_shards`` training shards balanced by token
    count.  Output adds (n_tokens, shard).

    Default (distributed LPT): documents split into ``n_groups``
    deterministic hash groups (md5 of id — each group is a uniform random
    slice of the corpus); each group independently ranks by tokens desc
    (id tiebreak) and deals round-robin with the group index as offset so
    the per-group largest docs fan across different shards.  Every window
    is partitioned — no single reducer ever sorts the corpus — and the sum
    of n_groups independent balanced deals stays balanced (per-shard error
    is O(n_groups · max_doc_tokens) instead of the hash-shard O(total/√n)).

    ``exact=True`` keeps the single global-window LPT: perfect round-robin
    balance, at the cost of a one-reducer sort — fine up to tens of
    millions of rows, not at corpus scale."""
    toks = TX.token_count(F.col(text_field))
    out = df.withColumn("n_tokens", toks)
    if exact:
        w = Window.orderBy(F.col("n_tokens").desc(), F.col(id_field).asc())
        return out.withColumn(
            "shard", ((F.row_number().over(w) - 1) % n_shards).cast("int"))
    grp = (F.conv(F.substring(F.md5(F.col(id_field).cast("string")), 1, 8),
                  16, 10).cast("long") % n_groups)
    w = (Window.partitionBy("__grp")
         .orderBy(F.col("n_tokens").desc(), F.col(id_field).asc()))
    return (out.withColumn("__grp", grp)
               .withColumn("shard",
                           ((F.row_number().over(w) - 1 + F.col("__grp"))
                            % n_shards).cast("int"))
               .drop("__grp"))


def shuffle_corpus(df: DataFrame, n_shards: int, seed: int = 42,
                   id_field: str = "doc_id") -> DataFrame:
    """Deterministic training-order shuffle: the last stage before a
    training run randomizes document order so batches are i.i.d.-ish.

    Every row gets a shard (uniform on the seeded id hash) and a
    position within its shard (ordered by a second hash) — a sharded
    writer emits shard files whose concatenation is the shuffled order.
    Deterministic in (seed, ids): re-running resumes the same order.

    Scale shape: shard assignment is map-side arithmetic; the only
    window is PARTITIONED by shard (corpus/n_shards rows per reducer —
    knob-bounded, never a global single-reducer sort)."""
    key = F.md5(F.concat_ws(":", F.lit(str(seed)),
                            F.col(id_field).cast("string")))
    shard = (F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
             % n_shards).cast("int")
    w = (Window.partitionBy("shard")
         .orderBy(F.col("__key").asc(), F.col(id_field).asc()))
    return (df.withColumn("__key", key)
              .withColumn("shard", shard)
              .withColumn("shard_pos", F.row_number().over(w).cast("long"))
              .drop("__key"))


def split_corpus(df: DataFrame,
                 weights: dict[str, float] | None = None,
                 id_field: str = "doc_id",
                 split_field: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment — the holdout-split step
    every training pipeline runs after curation, as a pure hash filter.

    Each document lands in exactly one named split with probability
    proportional to its weight, decided by the same md5 fraction as
    ``hash_sample`` (reference analog: the reference's random sampling is
    client-side `..sample()` over query results; a pure id-hash split is
    the engine-side form that stays reproducible across runs, engines,
    and resumes — critical so the test set never leaks into training when
    a 100 TB job restarts).  Weights are normalized; bucket boundaries
    are cumulative on the 0-9999 hash range, the last split absorbing the
    rounding remainder so every row is assigned.

    Scale shape: one scan, zero shuffles — the label is pure column math,
    so it composes with pushdown and costs nothing at any scale."""
    if weights is None:
        weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    if not weights:
        raise ValueError("split_corpus needs at least one split weight")
    total = float(sum(weights.values()))
    names = list(weights)
    frac = hash_fraction(F.col(id_field))
    # half-open cumulative buckets [lo, hi) on the 0-9999 hash range;
    # the last split takes everything past the final boundary
    out = F.lit(names[-1])
    lo = 0
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name] / total
        hi = int(round(cum * 10000))
        out = F.when((frac >= lo) & (frac < hi), name).otherwise(out)
        lo = hi
    return df.withColumn(split_field, out)


def _stage_barrier(df: DataFrame, materialize, warehouse_dir,
                   stage: str, eager: bool = False) -> DataFrame:
    """Materialization barrier between curate_corpus stages.

    ``"localCheckpoint"``: a ``pin`` — downstream stages read the
    pinned partitions, not the upstream DAG.  ``eager=True`` when the
    materialization itself must be the action (the report path's
    Observation counts fill on it).  ``"warehouse"``:
    write the stage to ``<warehouse_dir>/<stage>/`` as parquet and read
    it back — restartable and inspectable, the form a multi-day 100 TB
    run wants.  ``None``: no barrier (the pure-DAG composition; upstream
    branches re-evaluate)."""
    if not materialize:
        return df
    if materialize == "localCheckpoint":
        return pin(df, eager=eager)
    if materialize == "warehouse":
        if not warehouse_dir:
            raise ValueError(
                "materialize='warehouse' requires warehouse_dir")
        path = warehouse_dir.rstrip("/") + "/" + stage
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
    raise ValueError(f"unknown materialize mode: {materialize!r} "
                     "(use 'localCheckpoint', 'warehouse', or None)")


def curate_corpus(docs: DataFrame, bench: DataFrame | None = None,
                  *, minhash_dedup: bool = True,
                  paragraph_dedup: bool = False,
                  dsir_target: DataFrame | None = None,
                  dsir_scale: float = 1.0,
                  drop_quality_pct: float = 0.1,
                  quality_calibrated: bool = False,
                  drop_perplexity_pct: float = 0.1,
                  lm_order: int = 1,
                  max_per_source: int | None = None,
                  temperature_alpha: float | None = None,
                  temperature_budget: int | None = None,
                  mix_weights: dict[str, float] | None = None,
                  mix_budget: int | None = None,
                  n_shards: int = 64, seed: int = 42,
                  materialize: str | None = "localCheckpoint",
                  warehouse_dir: str | None = None,
                  cost_field: str = "n_chars",
                  holdout: dict[str, float] | None = None,
                  report: dict | None = None,
                  text_field: str = "text",
                  id_field: str = "doc_id") -> DataFrame:
    """The full curation recipe, end to end — the stage order a
    production pretraining build runs, each stage one of this package's
    scale-shaped operators:

      1. exact dedup (keep-first by content hash)
      2. MinHash-LSH near-dup removal (connected components, keep one
         canonical doc per cluster)
      2b. paragraph-level dedup (when ``paragraph_dedup``): Dolma-style
         first-occurrence-wins boilerplate removal; documents are
         rebuilt in place (``text_field`` replaced by the cleaned text)
      3. benchmark decontamination (when ``bench`` is given)
      4. heuristic quality floor (exact percentile cut; the score is
         rounded to 6dp before the percentile so the cut is
         engine-portable, and kept as ``quality``) — with
         ``quality_calibrated`` the cut applies to the WITHIN-SOURCE
         cume_dist instead (filters.calibrate_scores), so no domain is
         wiped out just because its raw scores run low
      5. unigram-LM perplexity filter (CCNet shape; LM trained on the
         surviving corpus)
      5b. DSIR target-domain resample (when ``dsir_target``): hashed
         n-gram log-ratio scoring against the target slice, docs kept
         with probability clamp(dsir_scale * 2^score) on the
         deterministic md5 coin (llmops/dsir, arXiv:2302.03169)
      6. per-source cap (when ``max_per_source``)
      6b. temperature mixture rebalance (when ``temperature_alpha``):
         n^alpha group shares over ``source`` on the deterministic
         coin (``temperature_sample``) — the mT5/XLM-R alternative to
         explicit mix weights
      7. token-budget source mixing (when ``mix_weights``+``mix_budget``;
         requires a ``cost_field`` column — derived as char count from
         ``text_field`` when absent)
      8. deterministic training-order shuffle (shard, shard_pos)
      9. holdout split (when ``holdout`` weights are given): a ``split``
         label via ``split_corpus`` — assigned LAST so every upstream
         filter saw train and holdout identically, and deterministically
         in the ids so a restarted job cannot leak the test set

    Returns the curated frame with ``shard``/``shard_pos`` (and
    ``split``) attached.  Every stage is declarative and nothing
    collects to the driver.

    ``materialize`` (default ``"localCheckpoint"``) inserts a barrier at
    each stage boundary.  This matters: stages 4, 5 and 7 BRANCH their
    input (percentile threshold + filter; LM train + score + threshold;
    per-source window), so the un-materialized composition re-evaluates
    the upstream DAG ~4-8x — invisible at test scale, a multiplicative
    corpus re-read at 100 TB.  With barriers every stage reads its input
    exactly once.  ``materialize="warehouse"`` (with ``warehouse_dir``)
    stages through parquet instead — restartable, the long-job form.
    Pass ``materialize=None`` for the pure-DAG composition.

    Pass an empty dict as ``report`` to receive per-stage surviving row
    counts (the curation funnel every production run logs).  Counts ride
    the stage barriers as ``Observation`` metrics — the barrier's
    materialization IS the action that fills them, so the report costs
    zero extra jobs.  Requires a materializing mode (with
    ``materialize=None`` nothing runs until the caller's first action,
    so the report is left untouched).

    Stages are individually oracle-verified (their q_* entries) and the
    composition itself is pinned end-to-end by q_curate_corpus."""
    from tostore_spark.llmops import dedup as D
    from tostore_spark.llmops import mixing as MX
    from tostore_spark.llmops import packing as PK

    # validated unconditionally — an invalid order must fail fast even
    # when drop_perplexity_pct=0 skips the stage that would use it
    if lm_order not in (1, 2, 3):
        raise ValueError(f"lm_order must be 1|2|3, got {lm_order}")

    def barrier(df, stage):
        if report is not None and materialize is not None:
            from pyspark.sql import Observation

            obs = Observation(stage)
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            # eager: the Observation's count fills on the barrier's own
            # materialization — a lazy barrier would leave obs.get
            # waiting on an action that hasn't run
            out = _stage_barrier(df, materialize, warehouse_dir, stage,
                                 eager=True)
            report[stage] = obs.get["rows"]
            return out
        return _stage_barrier(df, materialize, warehouse_dir, stage)

    out = docs
    # 1. exact dedup: keep the smallest id per content hash
    keep = D.exact_dedup(out, text_field=text_field, id_field=id_field) \
            .select(F.col("keeper_id").alias(id_field))
    out = barrier(out.join(keep, on=id_field, how="inner"),
                  "s1_exact_dedup")
    # 2. near-dup clusters -> keep one canonical doc per cluster
    if minhash_dedup:
        pairs = D.minhash_lsh_pairs(out, text_field=text_field,
                                    id_field=id_field)
        out = barrier(D.dedup_apply(out, pairs, id_field=id_field),
                      "s2_neardup")
    # 2b. paragraph-level boilerplate dedup, documents rebuilt in place
    if paragraph_dedup:
        from tostore_spark.llmops.paragraphs import (
            paragraph_dedup as _para)
        cleaned = _para(out, text_field=text_field, id_field=id_field)
        out = barrier(out.drop(text_field)
                         .join(cleaned.select(
                             id_field,
                             F.col("text_clean").alias(text_field)),
                             on=id_field, how="inner"),
                      "s2b_paragraph_dedup")
    # 3. benchmark decontamination
    if bench is not None:
        out = barrier(D.decontaminate(out, bench, text_field=text_field,
                                      id_field=id_field),
                      "s3_decontaminate")
    # 4. heuristic quality floor (exact percentile, threshold in-plan)
    if drop_quality_pct:
        out = out.withColumn(
            "quality", F.round(TX.quality_score(F.col(text_field)), 6))
        if quality_calibrated:
            from tostore_spark.llmops.filters import calibrate_scores
            out = barrier(
                calibrate_scores(out, "quality", by="source")
                .filter(F.col("score_pct") > float(drop_quality_pct))
                .drop("score_pct"),
                "s4_quality")
        else:
            out = barrier(PK.quality_percentile_filter(
                              out, pct=drop_quality_pct,
                              score_field="quality"),
                          "s4_quality")
    # 5. perplexity filter: LM trained on what survived so far.
    # ``lm_order`` picks the scorer rung (1 = unigram default — the
    # fastest corpus-scale signal; 2 = interpolated bigram; 3 =
    # two-level interpolated trigram, llmops/lm) — the cut contract is
    # identical at every order: drop the highest-bits drop_pct at the
    # exact interpolated percentile of THIS corpus.
    if drop_perplexity_pct:
        if lm_order == 1:
            lm = TX.train_unigram_lm(out, text_field=text_field)
            cut = TX.perplexity_filter(
                out, lm, drop_pct=drop_perplexity_pct,
                text_field=text_field, id_field=id_field)
        elif lm_order in (2, 3):
            from tostore_spark.llmops import lm as NLM
            if lm_order == 2:
                model = NLM.train_ngram_lm(out, n=2,
                                           text_field=text_field,
                                           id_field=id_field)
                cut = NLM.ngram_perplexity_filter(
                    out, model, drop_pct=drop_perplexity_pct,
                    text_field=text_field, id_field=id_field)
            else:
                model = NLM.train_trigram_lm(out, text_field=text_field,
                                             id_field=id_field)
                # scored feeds the percentile selection AND the filter
                # join — pin it once so the explode+joins never rerun
                scored = pin(NLM.trigram_bits_per_token(
                    out, model, text_field=text_field, id_field=id_field))
                from tostore_spark.plans.stats import \
                    exact_percentiles_frame
                thr = (exact_percentiles_frame(
                           scored, "bits_per_token",
                           [1.0 - float(drop_perplexity_pct)])
                       .select(F.col("__bounds").getItem(0)
                               .alias("__thr")))
                cut = (out.join(scored.select(
                                    F.col("id").alias(id_field),
                                    "bits_per_token"),
                                on=id_field, how="left")
                          .crossJoin(thr)
                          .filter(F.col("bits_per_token").isNull()
                                  | (F.col("bits_per_token")
                                     <= F.col("__thr")))
                          .drop("__thr"))
        else:
            raise ValueError(f"lm_order must be 1|2|3, got {lm_order}")
        out = barrier(cut, "s5_perplexity")
    # 5b. DSIR target-domain importance resample
    if dsir_target is not None:
        from tostore_spark.llmops import dsir as DS
        out = barrier(DS.dsir_resample(out, dsir_target,
                                       scale=dsir_scale,
                                       text_field=text_field,
                                       id_field=id_field),
                      "s5b_dsir")
    # 6. per-source caps
    if max_per_source is not None:
        out = barrier(PK.cap_per_source(out, max_per_source,
                                        id_field=id_field),
                      "s6_source_cap")
    # 6b. temperature mixture rebalance across sources
    if temperature_alpha is not None:
        out = barrier(temperature_sample(out, alpha=temperature_alpha,
                                         by="source",
                                         budget=temperature_budget,
                                         id_field=id_field),
                      "s6b_temperature")
    # 7. token-budget mixing (cost_field derived when the input lacks it)
    if mix_weights and mix_budget:
        if cost_field not in out.columns:
            out = out.withColumn(cost_field,
                                 TX.char_count(F.col(text_field)))
        out = barrier(MX.mix_corpus(out, mix_weights, budget=mix_budget,
                                    cost_field=cost_field,
                                    id_field=id_field),
                      "s7_mix")
    # 8. training-order shuffle
    out = shuffle_corpus(out, n_shards=n_shards, seed=seed,
                         id_field=id_field)
    # 9. holdout split label (pure column math — no barrier needed)
    if holdout:
        out = split_corpus(out, weights=holdout, id_field=id_field)
    return out


def topic_balanced_sample(emb: DataFrame, per_cell: int, n_cells: int = 16,
                          vec_field: str = "embedding",
                          id_field: str = "vec_id",
                          centroids=None) -> DataFrame:
    """Topic-balanced corpus resampling: cluster the embedding space
    (the same spherical k-means cells as SemDeDup / IVF), then take
    EXACTLY ``per_cell`` rows per cell (all rows of smaller cells),
    deterministically by md5(id) order.

    Web-scale corpora are topically lopsided (a few crawl genres
    dominate); balancing the training mix per semantic cluster is the
    embedding-space counterpart of per-source ``stratified_take`` (DoReMi
    /cluster-balanced sampling motif).  Shape: cell assignment is a
    map-side Column expression (centroids broadcast in-plan), the
    per-cell cut is ONE window partitioned by cell_id — no global sort,
    no collect; re-running selects the same rows.

    Returns the balanced subset with its ``cell_id`` (for mixture
    reporting).  Reference intent: the vector index's cluster structure
    (ngh_graph_engine.dart:14-80) reused as a curation signal.
    """
    from tostore_spark.llmops.similarity import ivf_build

    indexed, _ = ivf_build(emb, n_cells=n_cells, vec_field=vec_field,
                           id_field=id_field, centroids=centroids)
    w = (Window.partitionBy("cell_id")
         .orderBy(F.md5(F.col(id_field).cast("string")).asc(),
                  F.col(id_field).asc()))
    return (indexed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= per_cell).drop("__rn"))


def corpus_report(df: DataFrame, by=("source", "lang"),
                  text_field: str = "text") -> DataFrame:
    """Dataset-datasheet accounting: per ``by`` group — document count,
    exact token total (whitespace-regex tokens, the package's standard
    tokenization), character total, and mean document length in tokens.
    ONE hash-aggregate over one scan; the grouped frame is the artifact
    every dataset card / mixing decision starts from.
    """
    from tostore_spark.llmops import text as TX
    ntok = F.size(TX.tokens(F.col(text_field)))
    nchr = F.length(F.col(text_field))
    return (df.groupBy(*by)
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum(ntok).alias("total_tokens"),
                   F.sum(nchr.cast("long")).alias("total_chars"),
                   (F.sum(ntok).cast("double")
                    / F.count(F.lit(1))).alias("mean_tokens")))


def temperature_sample(df: DataFrame, alpha: float = 0.3,
                       by: str = "source", budget: int | None = None,
                       id_field: str = "doc_id") -> DataFrame:
    """Temperature-based source rebalancing (the mT5/XLM-R mixture
    rule): target group shares ∝ n_g^alpha — ``alpha=1`` keeps natural
    proportions, ``alpha→0`` approaches uniform across groups —
    realized by per-group keep probabilities
    ``min(1, budget·p_g / n_g)`` on the deterministic md5 coin
    (``budget`` defaults to the corpus size: pure rebalance, large
    groups down-sampled, small groups kept whole — no upsampling).

    Everything stays in-plan: the group-size aggregate is a tiny frame
    broadcast back, probabilities round to 6dp before the 1/10000-
    granularity coin (the ``weighted_sample`` contract), and re-runs
    keep exactly the same rows."""
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    sizes = df.groupBy(by).agg(F.count(F.lit(1)).alias("__n"))
    tot = sizes.agg(
        F.sum(F.pow(F.col("__n").cast("double"), float(alpha)))
         .alias("__z"),
        F.sum("__n").alias("__N"))
    # rename the group-size column before the crossJoin: tot derives
    # from sizes, and the shared lineage makes a bare __n ambiguous
    gsz = sizes.select(F.col(by), F.col("__n").alias("__gn"))
    keep = (gsz.crossJoin(tot)
            .withColumn("__p", F.pow(F.col("__gn").cast("double"),
                                     float(alpha)) / F.col("__z"))
            .withColumn("__budget",
                        F.lit(budget).cast("double") if budget is not None
                        else F.col("__N").cast("double"))
            .withColumn("__keep", F.round(
                F.least(F.lit(1.0),
                        F.col("__budget") * F.col("__p")
                        / F.col("__gn").cast("double")), 6))
            .select(by, "__keep"))
    coin = hash_fraction(F.col(id_field))
    # |groups| rows: the planner sizes it by the input it came from
    return (df.join(broadcast(keep), on=by)
              .filter(coin < F.floor(F.col("__keep") * 10000)
                      .cast("long"))
              .drop("__keep"))
