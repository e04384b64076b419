"""Higher-order n-gram language models for perplexity filtering.

The CCNet pipeline's operative quality signal is a 5-gram KenLM; the
unigram LM in ``llmops.text`` is the honest single-table stand-in.  This
module adds the next rung: a BIGRAM LM with add-k smoothing interpolated
against the unigram distribution — trained, stored and applied entirely
as DataFrames, so the LM scales with the corpus (no driver-side model
object, no broadcast cap on the vocabulary).

Model: for each document token stream prefixed with a BOS sentinel,

    p(w | c) = lam * (tf2(c,w) + k) / (ctf(c) + k*V)     # bigram, add-k
             + (1 - lam) * (tf(w) + k) / (T + k*V)       # unigram backoff

where tf2 = bigram count, ctf = context count, tf = unigram count,
T = corpus tokens, V = vocabulary size.  Unseen contexts degrade to the
uniform 1/V bigram term plus the unigram — never zero, never NaN.

Scale shape (both train and score): one explode per document, hash
aggregates on uniform (context, token) keys, then plain equi-joins —
AQE broadcasts the LM side by itself when the vocab is small; a forced
broadcast would cap the model at the 8 GB limit, so none is used.
Per-token bits round to 6 decimals and sum as DECIMAL, making every
aggregate order-independent and engine-portable for the DuckDB oracle
(the same discipline as ``text.lm_bits_per_token``).

Reference intent: the reference stores no LM (its quality surface is
schema validation); this is parity-plus for the training-data pipeline,
following CCNet (Wenzek et al., 2019, arXiv:1911.00359) in shape.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tostore_spark.llmops import text as TX
from tostore_spark.pin import pin

#: beginning-of-document context sentinel.  ``text.tokens`` emits only
#: [a-z0-9]+ runs, so the sentinel can never collide with a real token.
BOS = "<s>"


@dataclass
class NGramLM:
    """A trained n-gram LM as a set of count frames (persist each as
    parquet for reuse across runs — the artifact form a web-scale
    pipeline trains once and applies everywhere).

    ``bigrams``: (prev, token, tf2); ``contexts``: (prev, ctf);
    ``unigrams``: (token, tf); ``consts``: one row (T, V, add_k, lam)."""

    bigrams: DataFrame
    contexts: DataFrame
    unigrams: DataFrame
    consts: DataFrame


def bigram_rows(df: DataFrame, text_field: str = "text",
                id_field: str = "doc_id",
                carry: tuple[str, ...] = ()) -> DataFrame:
    """(id, [carry...], prev, token) rows: each document's token stream
    as bigram transitions, the first token conditioned on the BOS
    sentinel.  Pure column math (sequence + transform + posexplode) —
    one linear pass, no Python in the loop.

    ``carry`` names per-document columns to thread through the explode
    (a language/source tag the scorer will group on): carrying them
    here costs a constant per exploded row, while joining them back
    onto the per-doc aggregate later costs a corpus-sized shuffle join
    — the wrong side of the trade at 100 TB."""
    t = TX.tokens(F.col(text_field))
    # project the token array ONCE per row before the lambda: an
    # unbound expression referenced via element_at inside a
    # higher-order-function lambda is re-evaluated per array ELEMENT
    # (codegen CSE does not reach into lambda bodies), turning the
    # explode O(n^2) in document length — measured ~10s/5k docs at
    # sf0.1 before this projection, sub-second after
    # spread: tokenize+explode is the CPU-heavy per-row stage and a
    # one-file corpus would serialize it on one core (dedup._spread —
    # no-op when the scan already splits >= cores wide); downstream
    # aggregates are count/DECIMAL-sum frames, partition-independent
    from tostore_spark.llmops.dedup import _spread
    base = (_spread(df)
              .select(F.col(id_field).alias("id"), *carry, t.alias("__t"))
              .filter(F.size("__t") > 0))
    tt = F.col("__t")
    idx2 = F.sequence(F.lit(1), F.size(tt))
    pairs = F.transform(
        idx2,
        lambda i: F.struct(
            F.when(i == 1, F.lit(BOS))
             .otherwise(F.element_at(tt, i - 1)).alias("prev"),
            F.element_at(tt, i).alias("token")))
    return (base.select("id", *carry, F.explode(pairs).alias("bg"))
                .select("id", *carry, F.col("bg.prev").alias("prev"),
                        F.col("bg.token").alias("token")))


def train_ngram_lm(df: DataFrame, n: int = 2, add_k: float = 0.5,
                   lam: float = 0.7, text_field: str = "text",
                   id_field: str = "doc_id",
                   materialize: bool = True) -> NGramLM:
    """Train the interpolated bigram LM over a reference corpus.

    ONE corpus pass — enforced, not just claimed: the (prev, token)
    count frame is aggregated from a single bigram explode and (by
    default) PINNED (the ``plans.stats._bucketize`` discipline); every
    other frame — context counts, unigram counts (exact: each corpus
    token emits exactly one bigram row as the ``token`` member, BOS
    only ever appears as ``prev``), and the (T, V) constants — is a
    re-aggregation of that vocab-sized frame.  Without the pin
    Catalyst does NOT dedupe the common subplan across the scorer's
    join inputs and the corpus is re-tokenized once per joined frame
    (the 6x re-derivation the round-7 bench caught on the trigram).
    ``materialize=False`` keeps the frames lazy for callers that
    immediately ``save_ngram_lm`` to parquet instead.

    ``n`` is the model order; only n=2 is implemented (n=1 is
    ``text.train_unigram_lm``)."""
    if n != 2:
        raise ValueError(
            f"train_ngram_lm implements n=2 (got n={n}); "
            "use text.train_unigram_lm for n=1")
    bg = bigram_rows(df, text_field=text_field, id_field=id_field)
    bigrams = (bg.groupBy("prev", "token")
                 .agg(F.count(F.lit(1)).alias("tf2")))
    if materialize:
        bigrams = pin(bigrams)
    contexts = (bigrams.groupBy("prev")
                       .agg(F.sum("tf2").alias("ctf")))
    unigrams = (bigrams.groupBy("token")
                       .agg(F.sum("tf2").alias("tf")))
    consts = (unigrams.agg(F.sum("tf").alias("T"),
                           F.count(F.lit(1)).alias("V"))
              .withColumn("add_k", F.lit(float(add_k)))
              .withColumn("lam", F.lit(float(lam))))
    return NGramLM(bigrams=bigrams, contexts=contexts,
                   unigrams=unigrams, consts=consts)


def ngram_bits_per_token(df: DataFrame, lm: NGramLM,
                         text_field: str = "text",
                         id_field: str = "doc_id",
                         carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-document mean -log2 p(token | prev) under the interpolated
    bigram LM — the sharper CCNet signal (repetitive/boilerplate text
    that a unigram model scores as normal shows up as improbable
    TRANSITIONS).  Returns (id, [carry...], n_tokens, bits_per_token).

    Shape: one bigram explode, three left equi-joins against the count
    frames (uniform keys, AQE free to broadcast), one 1-row broadcast of
    the constants, one per-doc aggregate.  OOV tokens and unseen
    contexts take the smoothed floors — every TOKENIZABLE document
    scores (zero-token documents are absent: they have no transitions
    to score; join the output back onto the corpus when they must
    surface as nulls).  ``carry`` threads per-document columns (a
    language tag for ``ppl_buckets(by=...)``) through the scorer so
    the caller needs NO corpus-sized join to recover them."""
    bg = bigram_rows(df, text_field=text_field, id_field=id_field,
                     carry=carry)
    joined = (bg.join(lm.bigrams, on=["prev", "token"], how="left")
                .join(lm.contexts, on="prev", how="left")
                .join(lm.unigrams, on="token", how="left")
                .crossJoin(lm.consts))
    k = F.col("add_k")
    v = F.col("V").cast("double")
    p_bi = ((F.coalesce(F.col("tf2").cast("double"), F.lit(0.0)) + k)
            / (F.coalesce(F.col("ctf").cast("double"), F.lit(0.0)) + k * v))
    p_uni = ((F.coalesce(F.col("tf").cast("double"), F.lit(0.0)) + k)
             / (F.col("T").cast("double") + k * v))
    p = F.col("lam") * p_bi + (F.lit(1.0) - F.col("lam")) * p_uni
    bits = F.round(-F.log2(p), 6).cast("decimal(18,6)")
    return (joined.groupBy("id", *carry)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 (F.sum(bits).cast("double")
                  / F.count(F.lit(1))).alias("__raw"))
            .withColumn("bits_per_token", F.round(F.col("__raw"), 6))
            .drop("__raw"))


def ngram_perplexity_filter(df: DataFrame, lm: NGramLM,
                            drop_pct: float = 0.1,
                            text_field: str = "text",
                            id_field: str = "doc_id") -> DataFrame:
    """The CCNet cut with the bigram scorer: drop the ``drop_pct``
    highest-bits fraction, cut at the exact interpolated percentile of
    THIS corpus (threshold broadcast in-plan).  Zero-token documents
    carry no score and are kept (null survives) — same contract as
    ``text.perplexity_filter``."""
    scored = ngram_bits_per_token(df, lm, text_field=text_field,
                                  id_field=id_field)
    # the scored frame feeds BOTH the threshold selection and the output
    # join — materialize it once (doc-count rows, 3 columns) so the
    # explode+join scoring lineage is never executed twice
    scored = pin(scored)
    # distributed order-statistic threshold, not the percentile
    # value-map aggregate (repo-wide rule; see plans/stats)
    from tostore_spark.plans.stats import exact_percentiles_frame
    thr = (exact_percentiles_frame(scored, "bits_per_token",
                                   [1.0 - float(drop_pct)])
           .select(F.col("__bounds").getItem(0).alias("__thr")))
    return (df.join(scored.select(F.col("id").alias(id_field),
                                  "bits_per_token"),
                    on=id_field, how="left")
              .crossJoin(thr)
              .filter(F.col("bits_per_token").isNull()
                      | (F.col("bits_per_token") <= F.col("__thr")))
              .drop("__thr"))


def ppl_buckets(scored: DataFrame, bits_field: str = "bits_per_token",
                by: str | None = None,
                cuts: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
                labels: tuple[str, ...] = ("head", "middle", "tail"),
                materialize: bool = True,
                exact: bool = True) -> DataFrame:
    """CCNet head/middle/tail split: label each scored document by which
    perplexity band it falls in — ``head`` = lowest-bits third (the text
    the LM finds most natural), ``tail`` = highest.  CCNet trains on the
    head/middle and uses the bands as quality strata for sampling.

    ``scored`` is the output of ``ngram_bits_per_token`` /
    ``text.lm_bits_per_token`` joined back onto the corpus (any frame
    with ``bits_field``).  ``by`` computes the band thresholds PER GROUP
    (per language, per source) — CCNet's per-language percentiles —
    instead of one global cut.  Thresholds are the exact interpolated
    percentiles at ``cuts`` (ascending, len(labels) == len(cuts)+1).
    Rows with a null score (zero-token docs) get a null bucket.

    Scale shape: NO ``percentile`` value-map aggregate anywhere (the
    per-partition value map is memory-heavy and merges single-threaded
    — the operator this repo replaced for whole-corpus stats).  The
    ungrouped thresholds go through
    ``plans.stats.exact_percentiles_frame`` (sketch-guided distributed
    order-statistic selection); the ``by``-grouped thresholds go
    through ``plans.stats.grouped_percentiles_frame`` (one
    group-partitioned SPILLABLE sort window + one conditional-pick
    aggregate) — a wide language still degrades to external sort, not
    OOM.  One group = one reducer remains the grouped-path caveat; a
    group worth a meaningful fraction of the corpus should be cut
    ungrouped on its own.

    ``scored`` feeds BOTH the threshold derivation and the labeled
    output — ``materialize`` (default on) pins it so an expensive
    scoring lineage (the n-gram explode + joins) executes once, not
    once per reference.  The
    grouped-exact path skips the pin regardless: it references
    ``scored`` exactly once (null scores ride the SAME rank window
    with NULLS LAST — their row numbers sit past every threshold
    index, so they can never be picked as an order statistic), and a
    pin would only add block-store overhead to a single-execution
    plan.

    ``exact=False`` (grouped mode only) swaps the spillable per-group
    sort window for ONE per-group ``approx_percentile`` sketch
    aggregate — the tier for MILLIONS of languages/sources, where band
    edges a fraction of a percentile off are immaterial to CCNet-style
    stratification but a per-group sort is the wrong cost class.
    """
    if len(labels) != len(cuts) + 1:
        raise ValueError("need len(labels) == len(cuts) + 1")
    if list(cuts) != sorted(float(c) for c in cuts):
        raise ValueError("cuts must be ascending")
    if materialize and not (by is not None and exact):
        # grouped-exact is single-reference (see docstring) — never pin
        scored = pin(scored)
    if by is None:
        from tostore_spark.plans.stats import exact_percentiles_frame
        bounds = exact_percentiles_frame(scored, bits_field, list(cuts))
        thr = bounds.select(*[
            F.col("__bounds").getItem(i).alias(f"__t{i}")
            for i in range(len(cuts))])
        out = scored.crossJoin(thr)
    elif exact:
        # single-exchange exact path: classification by the interpolated
        # threshold t = v_lo + gf·(v_hi − v_lo) is EQUAL to classification
        # by the lower order statistic alone — no value lies strictly
        # between consecutive order stats, and gf < 1 keeps t < v_hi
        # whenever v_hi > v_lo, so  v <= t  ⟺  v <= v_lo@floor(c·(n−1)).
        # Both window functions share ONE partitionBy(by) exchange (the
        # rank orders within it), replacing the previous
        # window + aggregate + join chain (~0.3s of stage overhead per
        # call at sf0.1; identical labels, DuckDB-oracle-pinned).
        from pyspark.sql import Window
        # nulls stay IN the frame: NULLS LAST puts their row numbers at
        # n..count-1 while __n counts only non-null scores, so k =
        # floor(c·(__n−1)) can never select one (an all-null group gets
        # k = −1 → null thresholds → null label); one window exchange,
        # one reference to ``scored``, no union, no checkpoint
        w_rank = Window.partitionBy(by).orderBy(
            F.col(bits_field).asc_nulls_last())
        w_all = Window.partitionBy(by)
        ranked = (scored
                  .withColumn("__rn", F.row_number().over(w_rank) - 1)
                  .withColumn("__n",
                              F.count(F.col(bits_field)).over(w_all)))
        for i, c in enumerate(cuts):
            k = F.floor(F.lit(float(c)) * (F.col("__n") - 1))
            ranked = ranked.withColumn(
                f"__t{i}",
                F.max(F.when(F.col("__rn") == k, F.col(bits_field)))
                 .over(w_all))
        out = ranked.drop("__rn", "__n")
    else:
        from tostore_spark.plans.stats import grouped_percentiles_frame
        gp = grouped_percentiles_frame(scored, by, bits_field, list(cuts),
                                       exact=exact)
        thr = gp.groupBy(by).agg(*[
            F.max(F.when(F.col("p") == float(c), F.col("value")))
             .alias(f"__t{i}") for i, c in enumerate(cuts)])
        out = scored.join(thr, on=by, how="left")
    b = F.col(bits_field)
    lab = F.when(b.isNull(), F.lit(None).cast("string"))
    for i in range(len(cuts)):
        lab = lab.when(b <= F.col(f"__t{i}"), F.lit(labels[i]))
    lab = lab.otherwise(F.lit(labels[-1]))
    return out.withColumn("ppl_bucket", lab).drop(
        *[f"__t{i}" for i in range(len(cuts))])


@dataclass
class TrigramLM:
    """The interpolated trigram model: trigram/bigram/unigram count
    frames + one constants row — all DataFrames (persist as parquet;
    no driver-side model, no broadcast cap on the vocabulary).

    ``trigrams``: (prev2, prev, token, tf3); ``contexts2``:
    (prev2, prev, ctf3); ``bigrams``/(``contexts``)/(``unigrams``) as
    in ``NGramLM``; ``consts``: one row (T, V, add_k, lam3, lam2)."""

    trigrams: DataFrame
    contexts2: DataFrame
    bigrams: DataFrame
    contexts: DataFrame
    unigrams: DataFrame
    consts: DataFrame


def trigram_rows(df: DataFrame, text_field: str = "text",
                 id_field: str = "doc_id") -> DataFrame:
    """(id, prev2, prev, token) rows: each document's token stream as
    trigram transitions, the first two positions padded with the BOS
    sentinel — pure column math, one linear pass."""
    t = TX.tokens(F.col(text_field))
    # tokenize ONCE per row, then reference the bound column in the
    # lambda — see bigram_rows for why (per-element re-evaluation
    # inside higher-order lambdas makes the un-projected form O(n^2))
    # spread before the explode — see bigram_rows
    from tostore_spark.llmops.dedup import _spread
    base = (_spread(df)
              .select(F.col(id_field).alias("id"), t.alias("__t"))
              .filter(F.size("__t") > 0))
    tt = F.col("__t")
    idx = F.sequence(F.lit(1), F.size(tt))
    triples = F.transform(
        idx,
        lambda i: F.struct(
            F.when(i <= 2, F.lit(BOS))
             .otherwise(F.element_at(tt, i - 2)).alias("prev2"),
            F.when(i == 1, F.lit(BOS))
             .otherwise(F.element_at(tt, i - 1)).alias("prev"),
            F.element_at(tt, i).alias("token")))
    return (base.select("id", F.explode(triples).alias("tg"))
                .select("id", F.col("tg.prev2").alias("prev2"),
                        F.col("tg.prev").alias("prev"),
                        F.col("tg.token").alias("token")))


def train_trigram_lm(df: DataFrame, add_k: float = 0.5,
                     lam3: float = 0.5, lam2: float = 0.3,
                     text_field: str = "text",
                     id_field: str = "doc_id",
                     materialize: bool = True) -> TrigramLM:
    """Train the two-level interpolated trigram LM:

        p(w | a, b) = lam3 · (tf3(a,b,w)+k)/(ctf3(a,b)+kV)
                    + lam2 · (tf2(b,w)+k)/(ctf(b)+kV)
                    + (1−lam3−lam2) · (tf(w)+k)/(T+kV)

    ONE corpus pass — enforced in the executed plan, not just the
    docstring: the (prev2, prev, token) count frame is aggregated from
    a single trigram explode and (by default) PINNED; EVERY other
    frame is a re-aggregation of that vocab-sized frame.  The
    derivations are exact because each corpus token emits exactly one
    trigram row as the ``token`` member (BOS appears only in the
    context positions):

        bigrams  = trigrams.groupBy(prev, token).sum(tf3)
        unigrams = trigrams.groupBy(token).sum(tf3)
        contexts / contexts2 / (T, V) likewise.

    Without the pin, Catalyst does not dedupe the shared
    explode subplan across the scorer's five join inputs and the
    corpus is re-tokenized ~6x (the 20s-at-sf0.1 wall the round-7
    bench caught; at 100 TB that is six corpus scans for one).
    ``materialize=False`` keeps the frames lazy for callers that
    immediately ``save_trigram_lm`` to parquet instead.

    Unseen contexts smooth to the uniform floor at each level;
    probabilities are never zero."""
    if not (0 <= lam3 and 0 <= lam2 and lam3 + lam2 <= 1):
        raise ValueError("need lam3, lam2 >= 0 and lam3 + lam2 <= 1")
    tg = trigram_rows(df, text_field=text_field, id_field=id_field)
    trigrams = (tg.groupBy("prev2", "prev", "token")
                  .agg(F.count(F.lit(1)).alias("tf3")))
    if materialize:
        trigrams = pin(trigrams)
    contexts2 = (trigrams.groupBy("prev2", "prev")
                         .agg(F.sum("tf3").alias("ctf3")))
    bigrams = (trigrams.groupBy("prev", "token")
                       .agg(F.sum("tf3").alias("tf2")))
    contexts = (bigrams.groupBy("prev")
                       .agg(F.sum("tf2").alias("ctf")))
    unigrams = (trigrams.groupBy("token")
                        .agg(F.sum("tf3").alias("tf")))
    consts = (unigrams.agg(F.sum("tf").alias("T"),
                           F.count(F.lit(1)).alias("V"))
              .withColumn("add_k", F.lit(float(add_k)))
              .withColumn("lam3", F.lit(float(lam3)))
              .withColumn("lam2", F.lit(float(lam2))))
    return TrigramLM(trigrams=trigrams, contexts2=contexts2,
                     bigrams=bigrams, contexts=contexts,
                     unigrams=unigrams, consts=consts)


def trigram_bits_per_token(df: DataFrame, lm: TrigramLM,
                           text_field: str = "text",
                           id_field: str = "doc_id") -> DataFrame:
    """Per-document mean -log2 p(token | prev2, prev) under the
    interpolated trigram LM — one rung sharper than the bigram scorer
    (local word-order violations show up that pairwise transitions
    miss).  Returns (id, n_tokens, bits_per_token).

    Shape: one trigram explode, five left equi-joins against the count
    frames (uniform keys; AQE broadcasts small sides by itself), one
    1-row constants broadcast, one per-doc aggregate.  Per-token bits
    round to 6dp and sum as DECIMAL — order-independent,
    oracle-portable."""
    tg = trigram_rows(df, text_field=text_field, id_field=id_field)
    joined = (tg.join(lm.trigrams, on=["prev2", "prev", "token"],
                      how="left")
                .join(lm.contexts2, on=["prev2", "prev"], how="left")
                .join(lm.bigrams, on=["prev", "token"], how="left")
                .join(lm.contexts, on="prev", how="left")
                .join(lm.unigrams, on="token", how="left")
                .crossJoin(lm.consts))
    k = F.col("add_k")
    v = F.col("V").cast("double")
    p_tri = ((F.coalesce(F.col("tf3").cast("double"), F.lit(0.0)) + k)
             / (F.coalesce(F.col("ctf3").cast("double"), F.lit(0.0))
                + k * v))
    p_bi = ((F.coalesce(F.col("tf2").cast("double"), F.lit(0.0)) + k)
            / (F.coalesce(F.col("ctf").cast("double"), F.lit(0.0))
               + k * v))
    p_uni = ((F.coalesce(F.col("tf").cast("double"), F.lit(0.0)) + k)
             / (F.col("T").cast("double") + k * v))
    lam1 = F.lit(1.0) - F.col("lam3") - F.col("lam2")
    p = F.col("lam3") * p_tri + F.col("lam2") * p_bi + lam1 * p_uni
    bits = F.round(-F.log2(p), 6).cast("decimal(18,6)")
    return (joined.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 (F.sum(bits).cast("double")
                  / F.count(F.lit(1))).alias("__raw"))
            .withColumn("bits_per_token", F.round(F.col("__raw"), 6))
            .drop("__raw"))


def save_trigram_lm(lm: TrigramLM, path: str) -> str:
    """Persist the trained trigram LM as parquet frames under ``path``
    (one subdir per count frame + the 1-row consts) — the train-once /
    apply-everywhere artifact form: a later job ``load_trigram_lm``-s
    and scores without touching the training corpus."""
    for name in ("trigrams", "contexts2", "bigrams", "contexts",
                 "unigrams", "consts"):
        getattr(lm, name).write.mode("overwrite").parquet(
            f"{path}/{name}")
    return path


def load_trigram_lm(spark, path: str) -> TrigramLM:
    """Re-open a ``save_trigram_lm`` artifact (lazy parquet frames)."""
    frames = {name: spark.read.parquet(f"{path}/{name}")
              for name in ("trigrams", "contexts2", "bigrams",
                           "contexts", "unigrams", "consts")}
    return TrigramLM(**frames)


def save_ngram_lm(lm: NGramLM, path: str) -> str:
    """Persist the trained bigram LM as parquet frames under ``path``."""
    for name in ("bigrams", "contexts", "unigrams", "consts"):
        getattr(lm, name).write.mode("overwrite").parquet(
            f"{path}/{name}")
    return path


def load_ngram_lm(spark, path: str) -> NGramLM:
    """Re-open a ``save_ngram_lm`` artifact (lazy parquet frames)."""
    frames = {name: spark.read.parquet(f"{path}/{name}")
              for name in ("bigrams", "contexts", "unigrams", "consts")}
    return NGramLM(**frames)
