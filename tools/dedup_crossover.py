"""Time ``dedup_clusters``' two modes on synthetic edge sets.

Each edge set is a forest of near-dup families of 2-21 documents, read
from parquet: ``clique`` families pair every two members (the shape
MinHash-LSH pairs take), ``tree`` families link each member to one
earlier member (fewer edges per node, more label rounds).  Small mode is
run with ``SMALL_GRAPH_EDGES`` raised above the edge count, large mode
with it at 0.  Each timing is ``dedup_clusters(pairs)`` plus a count of
its non-canonical rows (what ``dedup_apply`` drops), median of
``--repeats`` after one warm-up of both modes.

Usage: python tools/dedup_crossover.py [--cpus 4] [--repeats 3]
                                       [--edges 1000,10000,...]
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def edge_set(shape: str, n_edges: int, seed: int = 7) -> list[tuple]:
    import random
    rng = random.Random(seed)
    out: list[tuple] = []
    base = 0
    while len(out) < n_edges:
        k = rng.randint(2, 21)
        ids = list(range(base, base + k))
        rng.shuffle(ids)
        if shape == "clique":
            out += [(min(a, b), max(a, b)) for i, a in enumerate(ids)
                    for b in ids[i + 1:]]
        else:
            for i in range(1, k):
                a, b = ids[i], ids[rng.randrange(i)]
                out.append((min(a, b), max(a, b)))
        base += k
    return out[:n_edges]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--edges", default="1000,10000,100000,300000,1000000")
    ap.add_argument("--shapes", default="clique,tree")
    args = ap.parse_args()

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tostore_spark import get_spark
    from tostore_spark.llmops import dedup as D

    spark = get_spark(cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="dedup_crossover_")

    def run(pairs, n: int) -> float:
        D.SMALL_GRAPH_EDGES = n
        t = time.perf_counter()
        D.dedup_clusters(pairs).filter(
            F.col("id") != F.col("cluster_id")).count()
        return time.perf_counter() - t

    print("shape n_edges small_s large_s")
    for shape in args.shapes.split(","):
        for n in (int(x) for x in args.edges.split(",")):
            path = os.path.join(tmp, f"{shape}_{n}.parquet")
            a, b = zip(*edge_set(shape, n))
            pq.write_table(pa.table({"id_a": pa.array(a, pa.int64()),
                                     "id_b": pa.array(b, pa.int64())}), path)
            pairs = spark.read.parquet(path)
            for bound in (n, 0):   # warm-up
                run(pairs, bound)
            small = [run(pairs, n) for _ in range(args.repeats)]
            large = [run(pairs, 0) for _ in range(args.repeats)]
            print(shape, n, round(statistics.median(small), 3),
                  round(statistics.median(large), 3), flush=True)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
