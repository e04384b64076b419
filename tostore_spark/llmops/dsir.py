"""DSIR-style data selection: importance resampling via hashed n-gram
likelihood ratios (Xie et al., "Data Selection for Language Models via
Importance Resampling", arXiv:2302.03169).

The method: score every raw document by how much more likely its hashed
bag-of-features is under the TARGET domain's distribution than under the
RAW corpus's own — log w(x) = Σ_f count_f · log(p_target[f]/p_raw[f]) —
then sample with probability ∝ w.  This implementation:

- features are md5-bucketed tokens (``n_buckets`` knob) — the same
  engine-portable hash family as the rest of the repo, so a SQL oracle
  reproduces bucketing exactly;
- the two feature distributions are add-k-smoothed count FRAMES (one
  hash-agg per corpus, full-outer-joined into one λ[f] = log₂-ratio
  table — never a driver-side model, never force-broadcast);
- scoring is explode → equi-join on the feature id → per-doc aggregate,
  with λ rounded to 6dp and DECIMAL-summed (order-independent, exact);
- the returned score is the MEAN log-ratio per token (the paper sums;
  the mean is the length-normalized variant — bounded regardless of
  document length, so 2^score never over/underflows at any scale);
- features unseen in either corpus take the smoothed-floor constant λ₀
  (both numerator and denominator at add_k mass), so scoring a NEW
  batch against a persisted ratio table is total.

``dsir_resample`` composes the weights with the deterministic
``pipeline.weighted_sample`` md5 coin — reproducible end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tostore_spark.broadcast import broadcast
from tostore_spark.llmops.pipeline import weighted_sample
from tostore_spark.llmops.text import tokens as _tokens
from tostore_spark.pin import pin


def _feat(tok):
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def _feature_counts(df: DataFrame, text_field: str,
                    n_buckets: int) -> DataFrame:
    toks = (df.select(F.explode(_tokens(F.col(text_field))).alias("__t"))
              .select((_feat(F.col("__t")) % n_buckets).alias("feat")))
    return toks.groupBy("feat").agg(F.count(F.lit(1)).alias("c"))


def dsir_ratio_table(raw: DataFrame, target: DataFrame,
                     text_field: str = "text", n_buckets: int = 4096,
                     add_k: float = 0.5) -> DataFrame:
    """The persistable artifact: (feat, lam) with
    λ = round(log₂(p_target/p_raw), 6), plus a ``__consts`` row carried
    as (feat = -1, lam = λ₀) for unseen features."""
    rc = _feature_counts(raw, text_field, n_buckets)
    tc = _feature_counts(target, text_field, n_buckets)
    joined = (rc.withColumnRenamed("c", "cr")
                .join(tc.withColumnRenamed("c", "ct"), "feat", "full"))
    tot = (joined.agg(F.sum("cr").alias("Tr"), F.sum("ct").alias("Tt"))
                 .withColumn("k", F.lit(float(add_k)))
                 .withColumn("B", F.lit(float(n_buckets))))
    lam = (joined.crossJoin(tot)
           .select("feat", F.round(
               F.log2(((F.coalesce(F.col("ct").cast("double"), F.lit(0.0))
                        + F.col("k"))
                       / (F.col("Tt").cast("double") + F.col("k") * F.col("B")))
                      / ((F.coalesce(F.col("cr").cast("double"), F.lit(0.0))
                          + F.col("k"))
                         / (F.col("Tr").cast("double")
                            + F.col("k") * F.col("B")))), 6).alias("lam")))
    # unseen-feature floor: ct = cr = 0
    floor = tot.select(
        F.lit(-1).cast("long").alias("feat"),
        F.round(F.log2((F.col("k")
                        / (F.col("Tt").cast("double") + F.col("k") * F.col("B")))
                       / (F.col("k")
                          / (F.col("Tr").cast("double")
                             + F.col("k") * F.col("B")))), 6).alias("lam"))
    return lam.unionByName(floor)


def dsir_weights(df: DataFrame, ratio: DataFrame,
                 text_field: str = "text", id_field: str = "doc_id",
                 n_buckets: int = 4096) -> DataFrame:
    """Score documents against a ratio table: (id, n_tokens,
    mean_log2_ratio) — positive = target-like.  Zero-token documents are
    absent (they carry no evidence)."""
    floor = ratio.filter(F.col("feat") == -1) \
                 .select(F.col("lam").alias("__lam0"))
    feats = (df.select(F.col(id_field).alias("id"),
                       F.explode(_tokens(F.col(text_field))).alias("__t"))
               .select("id", (_feat(F.col("__t")) % n_buckets).alias("feat")))
    # floor is one row, sized by the planner as the ratio table
    scored = (feats.join(ratio.filter(F.col("feat") >= 0), "feat", "left")
                   .crossJoin(broadcast(floor))
                   .withColumn("__l", F.coalesce("lam", "__lam0")))
    return (scored.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 (F.sum(F.col("__l").cast("decimal(28,6)")).cast("double")
                  / F.count(F.lit(1))).alias("__raw"))
            .withColumn("mean_log2_ratio", F.round("__raw", 6))
            .drop("__raw"))


def dsir_resample(raw: DataFrame, target: DataFrame,
                  scale: float = 1.0, text_field: str = "text",
                  id_field: str = "doc_id", n_buckets: int = 4096,
                  add_k: float = 0.5) -> DataFrame:
    """End-to-end DSIR pass: build the ratio table, score ``raw``, keep
    each doc with probability clamp(scale · 2^mean_log2_ratio, 0, 1) on
    the deterministic md5 coin.  Target-like docs (ratio > 0) survive
    preferentially; re-runs keep exactly the same rows."""
    # the ratio frame is consumed twice by the scorer (floor row + main
    # join); materialize it once so the two corpus-count scans behind it
    # don't re-run per branch (persisting it to parquet — the normal
    # artifact flow — has the same effect)
    ratio = pin(dsir_ratio_table(raw, target, text_field=text_field,
                                 n_buckets=n_buckets, add_k=add_k))
    w = dsir_weights(raw, ratio, text_field=text_field,
                     id_field=id_field, n_buckets=n_buckets)
    joined = raw.join(
        w.select(F.col("id").alias(id_field), "mean_log2_ratio"),
        on=id_field, how="inner")
    keep = F.lit(float(scale)) * F.pow(F.lit(2.0),
                                       F.col("mean_log2_ratio"))
    return weighted_sample(joined.withColumn("__keep", keep),
                           "__keep", id_field=id_field).drop("__keep")
