"""Seeded synthetic inputs for the benchmark.

The tables follow the shape of the repository's TPC-H-like test data
(column names, types and value ranges) so the workloads drive the same
code paths, but every value is drawn from ``--seed``: the same seed and
scale always give byte-identical parquet files.  Each table has its own
random stream, so a workload writes only the tables it reads and the
others do not change.  Scale 0.1 gives lineitem 600,000 / orders 150,000
/ customer 15,000 rows and 5,000 documents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: words in the documents' vocabulary: large enough that two unrelated
#: documents share few shingles, so the near-duplicate pairs minhash
#: finds are the injected ones and not chance overlaps of a tiny vocabulary
VOCAB_SIZE = 2_000
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EMB_DIM = 64
#: injected near-duplicates per 5,000 documents (scaled with the corpus)
DUPS_PER_5K = 250
#: the injected copies come in families of one source and 1, 2, 3, ...
#: copies (up to this many, then from 1 again): a family shares all its
#: LSH buckets, so the candidate pairs grow with the square of its size.
#: The sizes depend only on the scale, so every seed has the same pairs.
MAX_FAMILY = 30

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000        # 1995-01-01 in microseconds


def _sizes(sf: float) -> dict:
    return {
        "customer": max(150, int(150_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _dates(rng, n: int, span_days: int) -> pa.Array:
    days = rng.integers(0, span_days, n)
    return pa.array(_EPOCH_1995 + days * _DAY_US, pa.timestamp("us"))


def _pick(rng, values: list, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(
        len(values), n, p=p)], pa.string())


def _vocab(rng) -> list[str]:
    lengths = rng.integers(3, 9, VOCAB_SIZE)
    letters = rng.integers(0, 26, int(lengths.sum()))
    words, at = [], 0
    for n in lengths:
        words.append("".join(chr(97 + c) for c in letters[at:at + n]))
        at += n
    return words


def _text(rng, vocab: list[str], n_words: int) -> str:
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n_words))


def _near_duplicate(rng, text: str) -> str:
    """A copy of ``text`` that differs in case, punctuation and spacing.
    The engine's text normalisation maps it back onto its source, so
    minhash must pair the two with certainty and the cluster check is
    exact rather than probabilistic."""
    out = []
    for w in text.split():
        if rng.random() < 0.3:
            w = w.capitalize()
        if rng.random() < 0.2:
            w += rng.choice([",", ".", ";", "!"])
        out.append(w)
    return "  ".join(out)


def documents(rng, n: int) -> tuple[pa.Table, list[tuple[int, int]]]:
    """``n`` base documents plus families of injected near-duplicates;
    returns the table and the (source_id, duplicate_id) pairs that were
    injected."""
    vocab = _vocab(rng)
    texts = [_text(rng, vocab, int(k)) for k in rng.integers(10, 101, n)]
    n_dup = max(5, n * DUPS_PER_5K // 5_000)
    sizes: list[int] = []
    while sum(sizes) < n_dup:
        sizes.append(min(len(sizes) % MAX_FAMILY + 1, n_dup - sum(sizes)))
    sources = rng.choice(n, len(sizes), replace=False).tolist()
    injected = []
    for src, copies in zip(sources, sizes):
        for _ in range(copies):
            injected.append((src, len(texts)))
            texts.append(_near_duplicate(rng, texts[src]))
    total = len(texts)
    table = pa.table({
        "doc_id": pa.array(np.arange(total), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, total, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(total)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, injected


def embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32) * 0.1
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


TABLES = ("customer", "orders", "lineitem", "embeddings", "documents")


def generate(out_dir: str, sf: float, seed: int, tables=TABLES) -> dict:
    """Write ``tables`` under ``out_dir`` and return a description of
    them: the row counts of every table at this scale, written or not,
    and the injected duplicate pairs when documents are written."""
    n = _sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    info = {"rows": dict(n), "injected_duplicates": []}
    for name in tables:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        if name == "documents":
            table, info["injected_duplicates"] = documents(rng, n[name])
            info["rows"][name] = table.num_rows
        else:
            table = _BUILD[name](rng, n)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return info


def _customer(rng, n: dict) -> pa.Table:
    nc = n["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })


def _orders(rng, n: dict) -> pa.Table:
    no = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": _pick(rng, STATUSES, no),
        "o_totalprice": pa.array(
            np.round(rng.uniform(800.0, 500_000.0, no), 2)),
        "o_orderdate": _dates(rng, no, 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })


def _lineitem(rng, n: dict) -> pa.Table:
    nl = n["lineitem"]
    l_orderkey = np.sort(rng.integers(0, n["orders"], nl))
    # line numbers count up within each order, so (l_orderkey,
    # l_linenumber) is a unique key and every ordered page has one answer
    starts = np.searchsorted(l_orderkey, l_orderkey, side="left")
    l_linenumber = (np.arange(nl) - starts + 1).astype(np.int32)
    return pa.table({
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, nl), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900.0, 105_000.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _dates(rng, nl, 2499),
    })


_BUILD = {"customer": _customer, "orders": _orders, "lineitem": _lineitem,
          "embeddings": lambda rng, n: embeddings(rng, n["embeddings"])}
