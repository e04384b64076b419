"""Corpus shaping for training runs: per-source caps, sequence packing,
document chunking.

After cleaning/dedup (llmops.pipeline, llmops.dedup) a pretraining pipeline
still has to SHAPE the corpus into model inputs:

- ``cap_per_source``: bound any one source's (domain's) share of the mix —
  the crawl-curation step that stops one boilerplate-heavy site from
  dominating a 100 TB crawl.
- ``pack_sequences``: assign documents to fixed token-budget training
  examples (the "sequence packing" step that keeps context windows full
  instead of padding).  The plan is a deterministic pure function of the
  ids, so a resumed or re-run job packs identically.
- ``chunk_documents``: split long documents into overlapping fixed-size
  token windows (the chunking step for embedding/retrieval corpora).

Scale: every window here is partitioned (per-source / per-shard / per-row
explode) — nothing sorts the corpus on one reducer, and all three are
exactly reproducible in ANSI SQL for the DuckDB oracle (md5 is the shared
hash; token slicing agrees because both engines clamp slices).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tostore_spark.llmops import text as TX


def cap_per_source(df: DataFrame, k: int, strata_field: str = "source",
                   id_field: str = "doc_id",
                   order_field: Optional[str] = None) -> DataFrame:
    """At most ``k`` documents per source.  With ``order_field`` the TOP k
    by that column (descending, id tiebreak — e.g. a quality score) are
    kept; without it a deterministic md5-ordered draw (a reproducible
    random k, matching ``stratified_take``'s idiom).  One partitioned
    window — per-source groups shuffle independently, no global sort."""
    if order_field is not None:
        order = [F.col(order_field).desc(), F.col(id_field).asc()]
    else:
        order = [F.md5(F.col(id_field).cast("string")).asc(),
                 F.col(id_field).asc()]
    w = Window.partitionBy(strata_field).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= k).drop("__rn"))


def pack_sequences(df: DataFrame, budget_tokens: int,
                   text_field: str = "text", id_field: str = "doc_id",
                   n_shards: int = 32) -> DataFrame:
    """Deterministic sequence-packing plan: (shard, example_id, offset) per
    document, where consecutive documents (in md5-of-id order, within a
    shard) fill ``budget_tokens``-sized training examples.

    Documents are dealt into ``n_shards`` md5 hash shards (uniform,
    deterministic), each shard packs independently with a running token
    sum, and ``example_id = floor(tokens_before / budget)`` — a document
    that straddles a boundary belongs to the example where it starts and
    is split/truncated by the downstream materializer (the standard
    spillover-packing contract).  Every window is shard-partitioned; at
    corpus scale each reducer sorts corpus/n_shards rows, and raising
    ``n_shards`` keeps that bounded.

    Output: input columns + (n_tokens, shard, example_id, offset)."""
    toks = TX.token_count(F.col(text_field))
    shard = (F.conv(F.substring(F.md5(F.col(id_field).cast("string")), 1, 8),
                    16, 10).cast("long") % n_shards).cast("int")
    out = df.withColumn("n_tokens", toks).withColumn("shard", shard)
    w = (Window.partitionBy("shard")
         .orderBy(F.md5(F.col(id_field).cast("string")).asc(),
                  F.col(id_field).asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (out.withColumn("__before", before)
               .withColumn("example_id",
                           F.floor(F.col("__before") / budget_tokens)
                           .cast("long"))
               .withColumn("offset",
                           (F.col("__before") % budget_tokens).cast("long"))
               .drop("__before"))


def chunk_documents(df: DataFrame, chunk_tokens: int = 128,
                    overlap: int = 16, text_field: str = "text",
                    id_field: str = "doc_id") -> DataFrame:
    """Split each document into overlapping fixed-size token windows —
    one output row per (doc, chunk), with the chunk text re-joined.

    Pure per-row explode (no shuffle at any scale): chunk starts are
    ``0, step, 2·step, …`` with ``step = chunk_tokens - overlap``; the
    final window may be short (both engines clamp array slices), and
    token-less documents produce no chunks.

    Output: (id, chunk_id, start_token, n_chunk_tokens, chunk_text)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    t = TX.tokens(F.col(text_field))
    starts = F.sequence(F.lit(0), F.greatest(F.size("__toks") - 1, F.lit(0)),
                        F.lit(step))
    chunk = F.slice(F.col("__toks"), F.col("start_token") + 1, chunk_tokens)
    return (df.select(F.col(id_field), t.alias("__toks"))
              .filter(F.size("__toks") > 0)
              .withColumn("start_token", F.explode(starts))
              .withColumn("chunk_id",
                          (F.col("start_token") / step).cast("long"))
              .withColumn("__chunk", chunk)
              .select(id_field, "chunk_id", "start_token",
                      F.size("__chunk").alias("n_chunk_tokens"),
                      F.array_join("__chunk", " ").alias("chunk_text")))


def pack_materialize(df: DataFrame, budget_tokens: int,
                     text_field: str = "text", id_field: str = "doc_id",
                     n_shards: int = 32) -> DataFrame:
    """MATERIALIZE the packed training examples ``pack_sequences`` only
    plans: concatenate documents (md5-of-id order within each hash
    shard) into a token stream and cut it every ``budget_tokens`` — the
    GPT-style concat-and-chunk, with straddling documents actually
    SPLIT across example boundaries.  Every example is exactly
    ``budget_tokens`` long except each shard's final partial.

    Scale shape: one shard-partitioned cumulative-sum window gives each
    document its global token offset; the doc→examples fan-out is a
    per-row explode of the covered example range (a document lands in
    ceil(n/budget)+1 examples at most); the example rebuild is one
    (shard, example) hash-aggregate with an ordered in-memory
    concatenation — reducer state is budget_tokens per group,
    knob-bounded.  No global sort, nothing collected.

    Output: (shard, example_id, n_example_tokens, example_text)."""
    toks = TX.tokens(F.col(text_field))
    shard = (F.conv(F.substring(F.md5(F.col("__id").cast("string")), 1, 8),
                    16, 10).cast("long") % n_shards).cast("int")
    base = (df.select(F.col(id_field).alias("__id"), toks.alias("__toks"))
              .withColumn("__n", F.size("__toks"))
              .filter(F.col("__n") > 0)
              .withColumn("shard", shard))
    w = (Window.partitionBy("shard")
         .orderBy(F.md5(F.col("__id").cast("string")).asc(),
                  F.col("__id").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    B = budget_tokens
    base = base.withColumn(
        "__before", F.coalesce(F.sum("__n").over(w), F.lit(0)))
    ex = F.explode(F.sequence(
        F.expr("__before div " + str(B)),
        F.expr(f"(__before + __n - 1) div {B}"))).alias("example_id")
    frag = F.expr(
        f"slice(__toks, int(greatest(0L, example_id * {B} - __before)) + 1,"
        f" int(least(cast(__n as bigint),"
        f" (example_id + 1) * {B} - __before)"
        f" - greatest(0L, example_id * {B} - __before)))")
    pos = F.expr(f"greatest(0L, __before - example_id * {B})")
    frags = (base.select("shard", "__before", "__n", "__toks", ex)
                 .withColumn("__frag", frag)
                 .withColumn("__pos", pos))
    return (frags.groupBy("shard", "example_id")
            .agg(F.flatten(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct(F.col("__pos").alias("p"),
                                  F.col("__frag").alias("f")))),
                     lambda st: st["f"])).alias("__ex_toks"))
            .select("shard", "example_id",
                    F.size("__ex_toks").alias("n_example_tokens"),
                    F.array_join("__ex_toks", " ").alias("example_text")))


def length_grouped_batches(df: DataFrame, batch_size: int,
                           text_field: str = "text",
                           id_field: str = "doc_id",
                           n_shards: int = 32) -> DataFrame:
    """Length-grouped batch assignment — the padding-minimizing batching
    of non-packed finetuning: batch documents of SIMILAR length together
    so each batch pads to its own max, not the corpus max (the dynamic-
    batching / `group_by_length` motif).

    Documents deal into ``n_shards`` md5 hash shards; within a shard
    they rank by token count desc (id tiebreak) and cut into consecutive
    fixed-count batches (``batch_id = (rank-1) div batch_size``).
    Adjacent ranks have near-equal lengths, so per-document padding
    waste (batch max − doc tokens) stays small; ``padding_stats``
    reports it.  Deterministic in the ids; every window is
    shard-partitioned (reducer load corpus/n_shards, knob-bounded).

    Output: input columns + (n_tokens, shard, batch_id)."""
    toks = TX.token_count(F.col(text_field))
    shard = (F.conv(F.substring(F.md5(F.col(id_field).cast("string")), 1, 8),
                    16, 10).cast("long") % n_shards).cast("int")
    out = df.withColumn("n_tokens", toks).withColumn("shard", shard)
    w = (Window.partitionBy("shard")
         .orderBy(F.col("n_tokens").desc(), F.col(id_field).asc()))
    return out.withColumn(
        "batch_id",
        ((F.row_number().over(w) - 1) / batch_size).cast("long"))


def padding_stats(batched: DataFrame) -> DataFrame:
    """Per-batch padding efficiency for a ``length_grouped_batches``
    frame: (shard, batch_id, n_docs, max_tokens, total_tokens,
    pad_waste) where pad_waste = n_docs·max − total, the padding tokens
    a per-batch-padded materializer would emit.  One hash-aggregate on
    the (shard, batch) key."""
    return (batched.groupBy("shard", "batch_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.max("n_tokens").alias("max_tokens"),
                 F.sum("n_tokens").alias("total_tokens"))
            .withColumn("pad_waste",
                        F.col("n_docs") * F.col("max_tokens")
                        - F.col("total_tokens")))


def quality_percentile_filter(df: DataFrame, pct: float = 0.1,
                              score_field: Optional[str] = None,
                              text_field: str = "text") -> DataFrame:
    """Drop the bottom ``pct`` of the corpus by quality score, with the
    cut at the EXACT interpolated percentile of this corpus — a
    distribution-relative filter (the fixed-threshold variant is
    ``pipeline.clean_corpus``).  The threshold is one tiny aggregate
    broadcast back into the filter, all in a single plan: no driver
    round-trip, no approximation drift between runs.  Without
    ``score_field`` the built-in ``text.quality_score`` column is
    computed first (and kept, as ``quality``)."""
    from tostore_spark.llmops import text as _tx

    if score_field is None:
        df = df.withColumn("quality", _tx.quality_score(F.col(text_field)))
        score_field = "quality"
    # distributed order-statistic threshold, not the percentile
    # value-map aggregate (repo-wide rule; see plans/stats)
    from tostore_spark.plans.stats import exact_percentiles_frame
    thr = (exact_percentiles_frame(df, score_field, [float(pct)])
           .select(F.col("__bounds").getItem(0).alias("__thr")))
    return (df.crossJoin(thr)
              .filter(F.col(score_field) >= F.col("__thr"))
              .drop("__thr"))
