"""Text analysis: tokenization, quality scoring, language ID, fingerprinting.

All operators are pure Column expressions (JVM-side, whole-stage codegen) —
no Python UDFs — so they stream over 100 TB of documents at scan speed.
Every formula is also expressible in ANSI SQL for oracle verification.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from tostore_spark.pin import pin

WORD_RE = r"[a-z0-9]+"
# BPE-ish: letter runs, single digits, or single punctuation marks
BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
PUNCT_RE = r"[.,!?;:'\"()\[\]{}-]"

STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
                "that", "for", "on", "with", "as", "at", "by", "from"]
STOPWORDS_DE = ["der", "die", "das", "und", "oder", "zu", "in", "ist", "mit",
                "von", "auf", "ein", "eine", "den", "dem"]
STOPWORDS_FR = ["le", "la", "les", "et", "ou", "de", "en", "est", "avec",
                "pour", "un", "une", "dans", "sur", "que"]


def tokens(text_col: Column) -> Column:
    """Whitespace/word tokenization: lowercase word+digit runs."""
    return F.regexp_extract_all(F.lower(text_col), F.lit(WORD_RE), F.lit(0))


def bpe_tokens(text_col: Column) -> Column:
    """BPE-ish tokenization: letter runs + single digits + punctuation."""
    return F.regexp_extract_all(text_col, F.lit(BPE_RE), F.lit(0))


def token_count(text_col: Column) -> Column:
    return F.size(tokens(text_col))


def char_count(text_col: Column) -> Column:
    return F.length(text_col)


def punct_ratio(text_col: Column) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    total = F.length(text_col)
    punct = F.length(text_col) - F.length(F.regexp_replace(text_col, PUNCT_RE, ""))
    return F.when(total > 0, punct.cast("double") / total.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(text_col: Column, stopwords: list[str] | None = None) -> Column:
    """Stopword tokens / all tokens (0 when no tokens)."""
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    toks = tokens(text_col)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def mean_token_length(text_col: Column) -> Column:
    toks = tokens(text_col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n = F.size(toks)
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text_col: Column) -> Column:
    """Heuristic document quality in [0,1]: enough tokens, sane token length,
    some (but not too many) stopwords, low punctuation noise.  Deterministic
    arithmetic over the stats above — SQL-expressible for the oracle."""
    n = token_count(text_col).cast("double")
    len_score = F.least(n / F.lit(100.0), F.lit(1.0))
    mtl = mean_token_length(text_col)
    tl_score = F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    sw = stopword_ratio(text_col)
    sw_score = F.when((sw >= 0.05) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    p_score = F.lit(1.0) - F.least(punct_ratio(text_col) * F.lit(2.0), F.lit(1.0))
    return (len_score * F.lit(0.4) + tl_score * F.lit(0.2)
            + sw_score * F.lit(0.2) + p_score * F.lit(0.2))


def language_scores(text_col: Column) -> dict[str, Column]:
    """Stopword-hit counts per language (the n-gram/stopword heuristic)."""
    toks = tokens(text_col)
    out = {}
    for lang, words in (("en", STOPWORDS_EN), ("de", STOPWORDS_DE), ("fr", STOPWORDS_FR)):
        sw = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return out


def language_id(text_col: Column) -> Column:
    """argmax over language scores; ties broken en > de > fr; 'und' when no
    stopword hits at all."""
    s = language_scores(text_col)
    best = F.greatest(s["en"], s["de"], s["fr"])
    return (F.when(best == 0, F.lit("und"))
             .when(s["en"] == best, F.lit("en"))
             .when(s["de"] == best, F.lit("de"))
             .otherwise(F.lit("fr")))


def normalized_text(text_col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip punctuation,
    collapse whitespace."""
    t = F.lower(text_col)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return t


def norm_sql(field_expr: str) -> str:
    """SQL-text twin of ``normalized_text`` (the definition of record):
    the ONE place the canonical-form SQL string lives — every
    single-parse plan build (text_stats, the minhash index) must use
    this, so a normalization change can never fork the copies."""
    return ("trim(regexp_replace(regexp_replace(lower(" + field_expr +
            r"), '[^a-z0-9\\s]', ''), '\\s+', ' '))")


def fingerprint(text_col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(text_col))


def repetition_stats(df: DataFrame, text_field: str = "text",
                     id_field: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals: the fraction of tokens taken by the
    most frequent token, and of bigrams by the most frequent bigram — high
    values flag boilerplate/spam.  Explode → count → max shape (two bounded
    shuffles keyed by (doc, term); nothing quadratic), covering docs with
    at least one bigram."""
    t = F.col(text_field)
    toks = df.select(F.col(id_field).alias("id"),
                     F.explode(tokens(t)).alias("tok"))
    tok_agg = (toks.groupBy("id", "tok").count()
               .groupBy("id")
               .agg(F.max("count").alias("__top_tok"),
                    F.sum("count").alias("__n_tok")))
    # bigrams WITH duplicates (word_ngrams dedups — repetition needs counts)
    def _bigrams(tk):
        idx = F.sequence(F.lit(1), F.size(tk) - 1)  # 1-based for element_at
        return F.transform(idx, lambda i: F.concat_ws(
            " ", F.element_at(tk, i), F.element_at(tk, i + 1)))
    from tostore_spark.functions.colutil import let_array as _la
    bg = df.select(F.col(id_field).alias("id"),
                   F.explode(_la(tokens(t),
                                 lambda tk: F.when(F.size(tk) >= 2, _bigrams(tk))
                                 .otherwise(F.array().cast("array<string>")))
                             ).alias("bg"))
    bg_agg = (bg.groupBy("id", "bg").count()
              .groupBy("id")
              .agg(F.max("count").alias("__top_bg"),
                   F.sum("count").alias("__n_bg")))
    return (tok_agg.join(bg_agg, on="id")
            .select(F.col("id").alias(id_field),
                    (F.col("__top_tok").cast("double")
                     / F.col("__n_tok")).alias("top_token_frac"),
                    (F.col("__top_bg").cast("double")
                     / F.col("__n_bg")).alias("top_bigram_frac")))


def diversity_report(df: DataFrame, by: str | None = "source",
                     text_field: str = "text",
                     ns: tuple = (1, 2, 3)) -> DataFrame:
    """Corpus lexical-diversity report: per group (``by`` — a source, a
    language, a dump; None = whole corpus), the distinct-n ratio
    ``distinct n-grams / total n-grams`` for each n in ``ns`` — the
    distinct-1 ratio is the classic type/token ratio, and falling
    distinct-2/3 ratios are the standard early signal of DIVERSITY
    COLLAPSE (template spam, model-generated boilerplate, a crawler
    stuck in a calendar) that per-document repetition stats can't see:
    every page can look fine while the SOURCE repeats itself.

    Shape: one explode per n (token positions ride ``transform`` over a
    1-based sequence, duplicates KEPT — diversity needs real counts),
    then one count-distinct + count aggregate per group — two uniform
    shuffles per n, nothing quadratic, no windows.  Output: one row per
    (group, n) of (``by``, n, n_total, n_distinct, distinct_ratio)
    with the ratio rounded to 6dp (engine-portable).
    """
    t = F.col(text_field)
    key = F.col(by) if by is not None else F.lit("__all__")
    out = None
    for n in ns:
        n = int(n)
        if n < 1:
            raise ValueError(f"n must be >= 1, got {n}")
        if n == 1:
            grams = tokens(t)
        else:
            from tostore_spark.functions.colutil import let_array as _la

            def _ngrams(tk, n=n):
                idx = F.sequence(F.lit(1), F.size(tk) - (n - 1))
                return F.transform(idx, lambda i: F.concat_ws(
                    " ", *[F.element_at(tk, i + j) for j in range(n)]))
            grams = _la(tokens(t),
                        lambda tk: F.when(F.size(tk) >= n, _ngrams(tk))
                        .otherwise(F.array().cast("array<string>")))
        g = (df.select(key.alias("__g"), F.explode(grams).alias("gram"))
               .groupBy("__g")
               .agg(F.count(F.lit(1)).alias("n_total"),
                    F.count_distinct("gram").alias("n_distinct")))
        g = g.select(F.col("__g").alias(by or "group"),
                     F.lit(n).alias("n"), "n_total", "n_distinct",
                     F.round(F.col("n_distinct").cast("double")
                             / F.col("n_total"), 6).alias("distinct_ratio"))
        out = g if out is None else out.unionByName(g)
    return out


def unigram_drift(ref: DataFrame, cur: DataFrame,
                  text_field: str = "text", top_k: int = 20,
                  smooth: float = 0.5) -> DataFrame:
    """Corpus TEXT drift between two document sets (dump N vs dump
    N+1): Jensen-Shannon divergence (base 2, bounded [0, 1]) between
    their add-``smooth``-smoothed unigram distributions over the UNION
    vocabulary, with per-token contributions — the text twin of the
    numeric PSI gates (``plans/stats.drift_report``).  Run it before
    training on a new dump: a changed crawler mix, a template flood,
    or a language shift shows up as a large total with the culprit
    tokens at the top, where per-document quality stats stay silent.

    Output: the ``top_k`` highest-contribution tokens as (token,
    n_ref, n_cur, jsd_r) ordered by (contribution desc, token), with
    the SAME ``jsd_total_r`` (over the whole vocabulary, not just the
    top slice) on every row.

    Scale shape: one explode + one hash-aggregate per side, a
    vocab-keyed full outer join materialized ONCE (eager pin — the
    single-scan-totals discipline of the PSI reports), one constants
    aggregate broadcast back, map-side divergence math, a DECIMAL
    total, and a bounded top-k.  Per-token contributions round to 12dp
    before the total (log2 is not correctly rounded; 1-ulp engine
    differences are absorbed, the ``drift_report`` precedent), so the
    report is engine-exact."""
    if smooth <= 0:
        raise ValueError(f"smooth must be > 0, got {smooth}")
    t = F.col(text_field)

    def counts(df, name):
        return (df.select(F.explode(tokens(t)).alias("token"))
                  .groupBy("token")
                  .agg(F.count(F.lit(1)).alias(name)))
    # totals + report: one scan
    joined = pin(counts(ref, "n_ref")
                 .join(counts(cur, "n_cur"), on="token", how="full_outer")
                 .select("token",
                         F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
                         F.coalesce("n_cur", F.lit(0)).alias("n_cur")),
                 eager=True)
    consts = joined.agg(F.sum("n_ref").cast("double").alias("__tr"),
                        F.sum("n_cur").cast("double").alias("__tc"),
                        F.count(F.lit(1)).cast("double").alias("__v"))
    k = F.lit(float(smooth))
    p_ref = (F.col("n_ref").cast("double") + k) \
        / (F.col("__tr") + k * F.col("__v"))
    p_cur = (F.col("n_cur").cast("double") + k) \
        / (F.col("__tc") + k * F.col("__v"))
    m = (p_ref + p_cur) / F.lit(2.0)
    contrib = F.round(
        F.lit(0.5) * p_ref * F.log2(p_ref / m)
        + F.lit(0.5) * p_cur * F.log2(p_cur / m), 12)
    scored = (joined.crossJoin(consts)
                    .select("token", "n_ref", "n_cur",
                            contrib.alias("jsd_r")))
    total = scored.agg(
        F.sum(F.col("jsd_r").cast("decimal(38,12)"))
         .cast("double").alias("jsd_total_r"))
    return (scored.orderBy(F.col("jsd_r").desc(), F.col("token").asc())
                  .limit(int(top_k))
                  .crossJoin(total))


def vocab_stats(df: DataFrame, text_field: str = "text",
                id_field: str = "doc_id", min_df: int = 1) -> DataFrame:
    """Corpus vocabulary table: per token, total occurrences (``tf``) and
    document frequency (``df``) — the input to tokenizer training, idf
    weighting, and boilerplate-token detection.

    Map-reduce shape: explode tokens, one hash-aggregate per (doc, token)
    for within-doc counts (map-side partial combine), then one aggregate
    per token summing tf and counting docs — shuffle keys are (doc, token)
    then token, both uniformly distributed; nothing quadratic at corpus
    scale."""
    t = F.col(text_field)
    per_doc = (df.select(F.col(id_field).alias("id"),
                         F.explode(tokens(t)).alias("token"))
                 .groupBy("id", "token")
                 .agg(F.count(F.lit(1)).alias("n")))
    out = (per_doc.groupBy("token")
           .agg(F.sum("n").alias("tf"),
                F.count(F.lit(1)).alias("df")))
    if min_df > 1:
        out = out.filter(F.col("df") >= min_df)
    return out


def vocab_coverage(train: DataFrame, eval_df: DataFrame, vocab_size: int,
                   text_field: str = "text") -> DataFrame:
    """Coverage of a frequency-capped vocabulary — the tokenizer-sizing
    report: take the ``vocab_size`` most frequent training tokens
    (count desc, token asc — fully deterministic under ties) and measure
    how much of a held-out corpus they cover.

    Returns one row: (vocab_size, n_eval_tokens, n_oov_occurrences,
    n_oov_types, coverage) where coverage is the in-vocab fraction of
    eval token OCCURRENCES (the padding/UNK rate a tokenizer with this
    vocab would produce).

    Scale shape: the vocab cut is a bounded top-k
    (TakeOrderedAndProject) over the token-frequency table — never a
    global sort of the corpus; the membership check is one left join on
    the uniform token key; everything partial-combines map-side."""
    tf = (train.select(F.explode(tokens(F.col(text_field))).alias("token"))
               .groupBy("token").agg(F.count(F.lit(1)).alias("n")))
    vocab = (tf.orderBy(F.col("n").desc(), F.col("token").asc())
               .limit(vocab_size)
               .select("token", F.lit(1).alias("__in_vocab")))
    ev = (eval_df.select(F.explode(tokens(F.col(text_field))).alias("token"))
                 .groupBy("token").agg(F.count(F.lit(1)).alias("n")))
    joined = ev.join(vocab, on="token", how="left")
    return joined.agg(
        F.lit(vocab_size).alias("vocab_size"),
        F.sum("n").cast("long").alias("n_eval_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), F.col("n"))
               .otherwise(0)).cast("long").alias("n_oov_occurrences"),
        F.count(F.when(F.col("__in_vocab").isNull(), 1))
         .alias("n_oov_types"),
        (F.lit(1.0)
         - F.sum(F.when(F.col("__in_vocab").isNull(), F.col("n"))
                  .otherwise(0)).cast("double")
           / F.sum("n").cast("double")).alias("coverage"))


#: PII patterns — dialect-portable (identical semantics in Java regex and
#: RE2/DuckDB): email, dotted-quad IP, long digit runs (ids/phones).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_DIGITS_RE = r"\b[0-9]{6,}\b"


def pii_scrub(df: DataFrame, text_field: str = "text") -> DataFrame:
    """Redact common PII shapes and count what was removed.

    Adds ``n_emails``/``n_ips``/``n_digit_runs`` and ``text_redacted``
    (matches replaced by typed placeholders).  Pure column regex math —
    scan-speed over 100 TB, no Python.  The patterns are deliberately
    dialect-portable so the DuckDB oracle reproduces them exactly."""
    t = F.col(text_field)
    red = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PII_IP_RE, "<IP>")
    red = F.regexp_replace(red, PII_DIGITS_RE, "<NUM>")
    return df.select(
        "*",
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0)))
         .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IP_RE), F.lit(0)))
         .alias("n_ips"),
        F.size(F.regexp_extract_all(t, F.lit(PII_DIGITS_RE), F.lit(0)))
         .alias("n_digit_runs"),
        red.alias("text_redacted"))


def _sql_str(s: str) -> str:
    """A Python string as a Spark SQL string literal (quotes + backslashes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _stats_sql(field: str) -> dict[str, str]:
    """SQL-text twins of the Column helpers above — identical Catalyst
    trees (same ops, same order, so identical float results), built
    through ONE parser call per output column instead of hundreds of
    py4j round trips (~0.25s -> ~0.02s of serial driver time per
    text_stats build; the technique vector.py/dedup.py use)."""
    t = f"`{field}`"
    toks = f"regexp_extract_all(lower({t}), {_sql_str(WORD_RE)}, 0)"
    def sw_arr(words):
        return "array(" + ", ".join(_sql_str(w) for w in words) + ")"
    def sw_hits(words):
        return (f"size(filter({toks}, tk -> "
                f"array_contains({sw_arr(words)}, tk)))")
    n = f"size({toks})"
    punct = (f"length({t}) - length(regexp_replace({t},"
             f" {_sql_str(PUNCT_RE)}, ''))")
    punct_r = (f"CASE WHEN length({t}) > 0 THEN CAST(({punct}) AS DOUBLE)"
               f" / CAST(length({t}) AS DOUBLE) ELSE 0.0D END")
    sw_r = (f"CASE WHEN {n} > 0 THEN CAST({sw_hits(STOPWORDS_EN)} AS DOUBLE)"
            f" / CAST({n} AS DOUBLE) ELSE 0.0D END")
    tok_len_sum = f"aggregate({toks}, 0, (acc, tk) -> acc + length(tk))"
    mtl = (f"CASE WHEN {n} > 0 THEN CAST({tok_len_sum} AS DOUBLE)"
           f" / CAST({n} AS DOUBLE) ELSE 0.0D END")
    len_score = f"least(CAST({n} AS DOUBLE) / 100.0D, 1.0D)"
    tl_score = (f"CASE WHEN ({mtl}) >= 3.0D AND ({mtl}) <= 10.0D"
                " THEN 1.0D ELSE 0.5D END")
    sw_score = (f"CASE WHEN ({sw_r}) >= 0.05D AND ({sw_r}) <= 0.6D"
                " THEN 1.0D ELSE 0.5D END")
    p_score = f"1.0D - least(({punct_r}) * 2.0D, 1.0D)"
    quality = (f"({len_score}) * 0.4D + ({tl_score}) * 0.2D"
               f" + ({sw_score}) * 0.2D + ({p_score}) * 0.2D")
    en, de, fr = (sw_hits(STOPWORDS_EN), sw_hits(STOPWORDS_DE),
                  sw_hits(STOPWORDS_FR))
    best = f"greatest({en}, {de}, {fr})"
    lang = (f"CASE WHEN {best} = 0 THEN 'und'"
            f" WHEN {en} = {best} THEN 'en'"
            f" WHEN {de} = {best} THEN 'de'"
            " ELSE 'fr' END")
    norm = norm_sql(t)
    return {
        "n_tokens": n,
        "n_chars_computed": f"length({t})",
        "punct_ratio": punct_r,
        "stopword_ratio": sw_r,
        "mean_token_len": mtl,
        "quality": quality,
        "lang_guess": lang,
        "fingerprint": f"md5({norm})",
    }


def text_stats(df: DataFrame, text_field: str = "text") -> DataFrame:
    """One-pass per-document stats frame (single-parse SQL build; the
    Column helpers above remain the composable public surface and the
    definition of record — ``_stats_sql`` mirrors them tree-for-tree)."""
    stats = _stats_sql(text_field)
    return df.selectExpr(
        "*", *[f"{expr} AS {name}" for name, expr in stats.items()])


def train_unigram_lm(df: DataFrame, text_field: str = "text",
                     add_k: float = 0.5) -> DataFrame:
    """Unigram LM over a reference corpus: (token, tf) plus the corpus
    totals needed for add-k smoothed probabilities — the statistical
    backbone of a CCNet-style perplexity quality filter (an honest
    unigram stand-in for KenLM, which is not available here).  One
    explode + one hash-aggregate; the totals ride along as columns so
    scoring needs no driver round trip."""
    toks = (df.select(F.explode(tokens(F.col(text_field))).alias("token"))
              .groupBy("token").agg(F.count(F.lit(1)).alias("tf")))
    totals = toks.agg(F.sum("tf").alias("T"),
                      F.count(F.lit(1)).alias("V"))
    return toks.crossJoin(totals) \
               .withColumn("add_k", F.lit(float(add_k)))


def lm_bits_per_token(df: DataFrame, lm: DataFrame,
                      text_field: str = "text",
                      id_field: str = "doc_id") -> DataFrame:
    """Per-document mean -log2 p(token) under the unigram LM — low bits
    = text that looks like the reference corpus, high bits = outlier
    (the perplexity-filter signal; CCNet buckets on exactly this).

    OOV tokens get the smoothed floor add_k / (T + add_k·V).  Per-token
    bits round to 6 decimals and sum as DECIMAL so the aggregate is
    order-independent (engine-portable for the oracle); the join key is
    the token — uniform, so the un-hinted equi-join stays balanced, and
    AQE broadcasts the LM side by itself whenever the vocab is small
    (a forced broadcast would cap the vocab at the 8 GB broadcast limit).

    Scale shape: explode + one equi-join + one hash-agg — linear;
    at web scale the LM frame is a persisted artifact trained once."""
    ex = df.select(F.col(id_field).alias("id"),
                   F.explode(tokens(F.col(text_field))).alias("token"))
    # smoothing constants would be null on OOV rows of a left join —
    # carry them as a 1-row broadcast instead
    consts = lm.select("T", "V", "add_k").limit(1)
    joined = ex.join(lm.select("token", "tf"), on="token",
                     how="left").crossJoin(consts)
    denom = F.col("T").cast("double") + F.col("add_k") * F.col("V").cast("double")
    p = (F.coalesce(F.col("tf").cast("double"), F.lit(0.0))
         + F.col("add_k")) / denom
    bits = F.round(-F.log2(p), 6).cast("decimal(18,6)")
    return (joined.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 (F.sum(bits).cast("double")
                  / F.count(F.lit(1))).alias("mean_bits_raw"))
            .withColumn("bits_per_token",
                        F.round(F.col("mean_bits_raw"), 6))
            .drop("mean_bits_raw"))


def perplexity_filter(df: DataFrame, lm: DataFrame, drop_pct: float = 0.1,
                      text_field: str = "text",
                      id_field: str = "doc_id") -> DataFrame:
    """The CCNet filter applied: score every document with
    ``lm_bits_per_token`` and drop the ``drop_pct`` highest-bits
    (most-surprising) fraction — keeping the text the LM considers
    normal.  The cut sits at the exact interpolated percentile of THIS
    corpus (one tiny aggregate broadcast into the filter; no driver
    round trip).  Returns the surviving rows with ``bits_per_token``
    attached; zero-token documents carry no scored row, survive the
    left join with a null score, and are kept — ONE pass: the scored
    frame is computed once and left-joined back, not re-derived per
    branch."""
    scored = lm_bits_per_token(df, lm, text_field=text_field,
                               id_field=id_field)
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


def normalize_unicode(text_col: Column, form: str = "NFC") -> Column:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) for crawl text — the
    canonical pre-fingerprint pass: composed vs decomposed accents
    ('café' as e+U+0301 vs U+00E9) must hash identically or every
    dedup/fingerprint operator silently misses cross-encoding dups.

    No JVM built-in exists, so this is the ONE sanctioned Python hot
    path in the text family: an Arrow-batched pandas UDF over stdlib
    ``unicodedata`` (vectorized batch transfer, never row-at-a-time
    py4j).  ASCII-only corpora pass through byte-identical.  NFC output
    is reproducible in DuckDB's ``nfc_normalize`` for the oracle."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(lambda v: unicodedata.normalize(form, v)
                     if v is not None else None)

    return _norm(text_col)
