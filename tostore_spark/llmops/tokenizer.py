"""Distributed BPE tokenizer training — the learned-vocab step between
corpus curation and training.

Classic byte-pair encoding (Sennrich et al., 2016, arXiv:1508.07909):
start from characters, repeatedly merge the most frequent adjacent
symbol pair.  The distributed formulation exploits BPE's key property:
merges depend only on the DISTINCT-WORD table with frequencies, not the
corpus — so the corpus is scanned exactly once (word counting), and
every training round is one hash-aggregate over the word-shape frame
(|distinct words| rows, orders of magnitude smaller than the corpus).

Per round: adjacent-pair counts weighted by word frequency (one
explode + groupBy on uniform (a, b) keys), a deterministic argmax
(count desc, then pair lexicographic — a bounded 1-row collect, the
same shape as the reference's index-stat reads), and a column-side
left-to-right greedy merge over the symbol lists (a fold — no Python
in the loop).  Lineage is cut with a periodic lazy pin.

Tokenization with the learned vocab is the scale-correct join form:
the training frame already holds every known word's final symbol
sequence, so encoding a corpus is posexplode → equi-join on word →
regroup (OOV words fall back to characters).  No per-row Python, no
merge-depth expression trees.

The reference has no tokenizer (its text surface is schema + matchers);
this is parity-plus for the LLM-data pipeline, SURVEY.md §2's
training-data extension.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tostore_spark.llmops import text as TX
from tostore_spark.localdf import local_df
from tostore_spark.pin import pin


def chars(word: Column) -> Column:
    """A word as its character list (the BPE base alphabet).  The split
    points are strictly BETWEEN characters — not-at-start AND
    followed-by-a-character — because Spark's split keeps trailing empty
    strings (limit -1), so a plain (?!^) would append a phantom ''
    symbol to every word.  Words here are [a-z0-9]+ runs, so (?=.) never
    trips over newlines."""
    return F.split(word, r"(?!^)(?=.)")


def word_symbols(df: DataFrame, text_field: str = "text") -> DataFrame:
    """The training table: one row per DISTINCT word with its corpus
    frequency and current symbol sequence (initially characters).  This
    is the only corpus pass in all of training."""
    return (df.select(F.explode(TX.tokens(F.col(text_field))).alias("word"))
              .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
              .withColumn("sym", chars(F.col("word"))))


def _adjacent_pairs(sym: Column) -> Column:
    """array<struct<a,b>> of adjacent symbol pairs (overlapping — 'aaa'
    yields (a,a) twice, the classic BPE count)."""
    n = F.size(sym)
    empty = F.array().cast("array<struct<a:string,b:string>>")
    return F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(F.element_at(sym, i).alias("a"),
                           F.element_at(sym, i + 1).alias("b")))) \
            .otherwise(empty)


def pair_counts(sym_df: DataFrame) -> DataFrame:
    """(a, b, n): adjacent-pair frequencies over the word table, weighted
    by word frequency — the statistic each merge round maximizes."""
    return (sym_df.select("freq",
                          F.explode(_adjacent_pairs(F.col("sym"))).alias("p"))
                  .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                  .agg(F.sum("freq").alias("n")))


def apply_merge(sym: Column, a: Column, b: Column) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) into a||b — a fold
    whose accumulator's last element is the only lookback needed, which
    makes overlap handling exact: 'aaa' under (a,a) becomes [aa, a]."""
    return F.aggregate(
        sym, F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (x == b),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(F.concat(F.element_at(acc, -1), x)))
        ).otherwise(F.concat(acc, F.array(x))))


@dataclass
class BPEModel:
    """The trained tokenizer: the ordered merge list and the word →
    final-symbols table (persist ``word_tokens`` as parquet; encoding a
    new corpus is then one join, no re-derivation)."""

    merges: list[tuple[int, str, str, int]]   # (rank, left, right, count)
    word_tokens: DataFrame                    # (word, freq, sym)

    def merges_df(self, spark) -> DataFrame:
        return local_df(spark, 
            [(r, a, b, int(n)) for r, a, b, n in self.merges],
            ["rank", "left", "right", "n"])


def train_bpe(df: DataFrame, num_merges: int = 50, min_count: int = 2,
              text_field: str = "text",
              checkpoint_every: int = 8,
              batch_merges: int = 1) -> BPEModel:
    """Train BPE: ``num_merges`` merges (stopping early when no pair
    reaches ``min_count``).  Ties break deterministically — count desc,
    then (left, right) lexicographic — so the merge table is a pure
    function of the corpus.

    ``batch_merges=B`` batches the scheduler round-trips: each Spark
    round takes the top candidates and accepts up to B of them greedily
    in count order, SKIPPING any pair that shares a symbol (left, right,
    or the concatenation) with an already-accepted pair in the batch —
    symbol-disjoint merges commute (a merge only perturbs adjacencies
    touching its own symbols), so the batch applies as one chained fold
    with the same result in any order.  A production 32k-merge vocab
    drops from 32k sequential jobs to ~32k/B rounds; the result equals
    the serial greedy table whenever each batch's accepted pairs
    dominate the pairs their merges newly create (the typical Zipfian
    corpus case — and exactly the regime where batching pays).  B=1 IS
    the serial algorithm."""
    sym = pin(word_symbols(df, text_field=text_field))
    merges: list[tuple[int, str, str, int]] = []
    since_ckpt = 0
    while len(merges) < num_merges:
        want = min(max(1, int(batch_merges)), num_merges - len(merges))
        # 4x oversample: rejected overlapping candidates still leave a
        # full batch to accept; bounded collect either way
        top = (pair_counts(sym).filter(F.col("n") >= min_count)
               .orderBy(F.col("n").desc(), F.col("a").asc(),
                        F.col("b").asc())
               .limit(4 * want).collect())
        if not top:
            break
        chosen: list[tuple[str, str, int]] = []
        used: set[str] = set()
        for r in top:
            if len(chosen) >= want:
                break
            cat = r["a"] + r["b"]
            if r["a"] in used or r["b"] in used or cat in used:
                continue   # overlaps an accepted pair: defer to next round
            chosen.append((r["a"], r["b"], int(r["n"])))
            used.update((r["a"], r["b"], cat))
        col = F.col("sym")
        for a, b, n in chosen:
            merges.append((len(merges), a, b, n))
            col = apply_merge(col, F.lit(a), F.lit(b))
        sym = sym.withColumn("sym", col)
        since_ckpt += len(chosen)
        if since_ckpt >= checkpoint_every:
            sym = pin(sym)
            since_ckpt = 0
    # sym is already a pin unless merges ran since the last one
    return BPEModel(merges=merges,
                    word_tokens=pin(sym) if since_ckpt else sym)


def tokenize_bpe(df: DataFrame, model: BPEModel,
                 text_field: str = "text", id_field: str = "doc_id",
                 out_field: str = "bpe_tokens") -> DataFrame:
    """Encode a corpus with the trained vocab: posexplode words →
    equi-join the word_tokens table → regroup in position order.  Words
    the training corpus never saw fall back to characters (every merge
    they'd qualify for was learned from other words — close enough for
    a filter/count pipeline, and deterministic).  Adds ``out_field``
    (flat token array) and ``n_bpe_tokens``."""
    words = TX.tokens(F.col(text_field))
    ex = (df.select(F.col(id_field).alias("id"),
                    F.posexplode_outer(words).alias("pos", "word")))
    j = ex.join(model.word_tokens.select("word", "sym"),
                on="word", how="left")
    sym = F.coalesce(F.col("sym"), chars(F.col("word")))
    per_doc = (j.groupBy("id")
               .agg(F.flatten(F.transform(
                        F.array_sort(F.collect_list(F.when(
                            F.col("word").isNotNull(),
                            F.struct(F.col("pos").alias("p"),
                                     sym.alias("s"))))),
                        lambda st: st["s"])).alias(out_field)))
    return (df.join(per_doc.withColumnRenamed("id", id_field),
                    on=id_field, how="left")
              .withColumn(out_field,
                          F.coalesce(F.col(out_field),
                                     F.array().cast("array<string>")))
              .withColumn("n_bpe_tokens", F.size(F.col(out_field))))


def save_bpe(model: BPEModel, path: str) -> str:
    """Persist the trained tokenizer: the ordered merge table and the
    word → final-symbols frame as parquet under ``path`` — encoding a
    new corpus later is one ``load_bpe`` + ``tokenize_bpe`` join, no
    retraining and no driver-side model."""
    spark = model.word_tokens.sparkSession
    model.merges_df(spark).write.mode("overwrite").parquet(
        f"{path}/merges")
    model.word_tokens.write.mode("overwrite").parquet(
        f"{path}/word_tokens")
    return path


def load_bpe(spark, path: str) -> BPEModel:
    """Re-open a ``save_bpe`` artifact.  The merge table is collected
    (it is vocabulary-sized — tens of thousands of rows at most, the
    one intentionally driver-sized piece); word_tokens stays a lazy
    frame."""
    merges = [(int(r["rank"]), r["left"], r["right"], int(r["n"]))
              for r in (spark.read.parquet(f"{path}/merges")
                        .orderBy("rank").collect())]
    return BPEModel(merges=merges,
                    word_tokens=spark.read.parquet(f"{path}/word_tokens"))
