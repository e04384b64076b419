"""The three benchmark workloads.

Each workload opens an engine, loads its base data, yields its warm-up
operations, then yields one *iteration* at a time: a fixed sequence of
``Op``s whose parameters come from the workload's seeded generator.  The
runner times each op's ``call`` and runs its ``check`` afterwards, outside
the timed region.  A check returns ``None`` when the result is right and
a message when not.

Why each workload exists is written in ``README.md`` next to this file.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass
from typing import Any, Callable, Optional

import numpy as np


@dataclass
class Op:
    kind: str
    call: Callable[[], Any]
    check: Callable[[Any], Optional[str]]
    #: run between ``call`` and ``check`` in traced iterations only,
    #: untimed: extra measurements for the per-layer metrics
    probe: Optional[Callable[[Any], dict]] = None


def _same_rows(got: list, want: list, what: str) -> Optional[str]:
    if len(got) != len(want):
        return f"{what}: {len(got)} rows, expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"{what}: row {i} is {g!r}, expected {w!r}"
    return None


# ===================================================================
# read_mix
# ===================================================================
LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]
ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]
LARGE_COLS = ["l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
#: distinct keys kept hot (cached) per cached query shape
HOT_KEYS = 4
PAGE_SIZE = 50
WALK_PAGES = 5
LARGE_PAGE = 20_000
WARM_ITERATIONS = 1


class ReadMix:
    """Chain-builder reads through ``run()``/``count()``/``exists()``.

    Cached query shapes (``page``, ``group``) draw from a hot set of
    ``HOT_KEYS`` keys, warmed before the window so every hot draw hits
    the query cache, or from a cold space of tens of thousands of keys
    (far more than the cache's 512 entries) without repetition, so every
    cold draw misses.  The schedule of hot and cold draws in an
    iteration is fixed; the seed picks the keys."""

    name = "read_mix"
    tables = ("customer", "orders", "lineitem")
    #: measured iterations: None means as many as ``--seconds`` allow
    iterations = None

    def __init__(self, spark, data_dir: str, info: dict, seed: int,
                 work_dir: str):
        import duckdb

        self.spark, self.data_dir, self.rows = spark, data_dir, info["rows"]
        self.rng = random.Random(seed)
        self.con = duckdb.connect(config={
            "threads": 2, "memory_limit": "1GB",
            "temp_directory": os.path.join(work_dir, "duckdb")})
        for t in ("lineitem", "orders", "customer"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{os.path.join(data_dir, t + '.parquet')}')")
        self._used: set = set()
        self.hot = {
            "page": [self._cold("page") for _ in range(HOT_KEYS)],
            "group": [self._cold("group") for _ in range(HOT_KEYS)],
        }
        self.db = None
        self.cache0 = (0, 0)

    # ---- engine ------------------------------------------------------
    def open(self):
        from tostore_spark import ToStoreSpark
        self.db = ToStoreSpark(self.spark, data_dir=self.data_dir)

    def load(self):
        for t in ("lineitem", "orders", "customer"):
            self.db.query(t).count()

    def warm_up(self):
        """Fill the cache with the hot keys, then run an iteration so the
        JIT has compiled the hot paths."""
        for kind, keys in self.hot.items():
            for key in keys:
                yield self._op(kind, key)
        for i in range(WARM_ITERATIONS):
            yield from self.iteration(-1 - i)
        self.cache0 = self._cache_counts()

    def close(self):
        self.con.close()

    def final_check(self) -> Optional[str]:
        return None

    # ---- parameters ----------------------------------------------------
    def _cold(self, kind: str):
        """A key of ``kind`` never drawn before in this run."""
        r = self.rng
        while True:
            key = {
                "page": lambda: (r.randrange(1000), r.randrange(40)),
                "group": lambda: (r.randrange(5000) * 100,
                                  r.randrange(10) * 2000),
                "join_count": lambda: (r.choice(SEGMENTS),
                                       r.randrange(5000) * 100),
                "count": lambda: (r.randrange(11) / 100.0,
                                  r.choice("ANR"), r.randrange(1, 51)),
                "exists": lambda: (r.randrange(self.rows["customer"]),
                                   r.choice("FOP")),
                "walk": lambda: (r.randrange(self.rows["customer"] // 8,
                                             self.rows["customer"] // 6),),
                "large_page": lambda: (r.randrange(9000, 11000),),
            }[kind]()
            if (kind, key) not in self._used:
                self._used.add((kind, key))
                return key

    def iteration(self, i: int) -> list[Op]:
        hot = lambda kind: self.rng.choice(self.hot[kind])  # noqa: E731
        plan = [("page", hot("page")), ("count", None),
                ("page", hot("page")), ("group", hot("group")),
                ("join_count", None), ("page", None), ("exists", None),
                ("page", hot("page")), ("group", None), ("walk", None),
                ("large_page", None)]
        return [self._op(kind, key if key is not None else self._cold(kind))
                for kind, key in plan]

    def _cache_counts(self) -> tuple[int, int]:
        c = self.db.status["query_cache"] or {"hits": 0, "misses": 0}
        return c["hits"], c["misses"]

    def cache_hit_ratio(self) -> float:
        h, m = self._cache_counts()
        h, m = h - self.cache0[0], m - self.cache0[1]
        return h / (h + m) if h + m else 0.0

    # ---- oracle ------------------------------------------------------
    def _oracle(self, sql: str, params: tuple) -> list:
        return [tuple(r) for r in
                self.con.execute(sql, list(params)).fetchall()]

    # ---- operations ----------------------------------------------------
    def _op(self, kind: str, key: tuple) -> Op:
        return getattr(self, "_" + kind)(*key)

    def _page(self, supp: int, qty: int) -> Op:
        def call():
            return (self.db.query("lineitem")
                    .where("l_suppkey", "=", supp)
                    .where("l_quantity", ">", qty)
                    .order_by_desc("l_extendedprice")
                    .order_by_asc("l_orderkey", "l_linenumber")
                    .limit(100).run().records)

        def check(rows):
            want = self._oracle(
                "SELECT * FROM lineitem WHERE l_suppkey = ? AND l_quantity "
                "> ? ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber"
                " LIMIT 100", (supp, qty))
            return _same_rows([tuple(r[c] for c in LINEITEM_COLS)
                               for r in rows], want, "page")
        return Op("page", call, check)

    def _group(self, price: int, having: int) -> Op:
        from tostore_spark import Agg, QueryCondition

        def call():
            return (self.db.query("orders")
                    .where("o_totalprice", ">", price)
                    .select(["o_orderpriority",
                             Agg("count", "o_orderkey", alias="n"),
                             Agg("sum", "o_totalprice", alias="s")])
                    .group_by(["o_orderpriority"])
                    .having(QueryCondition().where("n", ">", having))
                    .run().records)

        def check(rows):
            want = self._oracle(
                "SELECT o_orderpriority, count(o_orderkey), "
                "sum(o_totalprice) FROM orders WHERE o_totalprice > ? "
                "GROUP BY 1 HAVING count(o_orderkey) > ? ORDER BY 1",
                (price, having))
            got = sorted((r["o_orderpriority"], r["n"], r["s"])
                         for r in rows)
            if len(got) != len(want):
                return f"group: {len(got)} groups, expected {len(want)}"
            for g, w in zip(got, want):
                if g[:2] != w[:2] or not math.isclose(g[2], w[2],
                                                      rel_tol=1e-9):
                    return f"group: {g!r}, expected {w!r}"
            return None
        return Op("group", call, check)

    def _join_count(self, segment: str, price: int) -> Op:
        def call():
            return (self.db.query("orders")
                    .left_join("customer", "orders.o_custkey",
                               "customer.c_custkey")
                    .where("customer.c_mktsegment", "=", segment)
                    .where("orders.o_totalprice", ">", price)
                    .count())

        def check(n):
            want = self._oracle(
                "SELECT count(*) FROM orders LEFT JOIN customer ON "
                "o_custkey = c_custkey WHERE c_mktsegment = ? AND "
                "o_totalprice > ?", (segment, price))[0][0]
            return None if n == want else f"join_count: {n}, expected {want}"
        return Op("join_count", call, check)

    def _count(self, discount: float, flag: str, qty: int) -> Op:
        def call():
            return (self.db.query("lineitem")
                    .where("l_discount", "=", discount)
                    .where("l_returnflag", "=", flag)
                    .where("l_quantity", "<", qty).count())

        def check(n):
            want = self._oracle(
                "SELECT count(*) FROM lineitem WHERE l_discount = ? AND "
                "l_returnflag = ? AND l_quantity < ?",
                (discount, flag, qty))[0][0]
            return None if n == want else f"count: {n}, expected {want}"
        return Op("count", call, check)

    def _exists(self, cust: int, status: str) -> Op:
        def call():
            return (self.db.query("orders").where("o_custkey", "=", cust)
                    .where("o_orderstatus", "=", status).exists())

        def check(flag):
            want = self._oracle(
                "SELECT count(*) > 0 FROM orders WHERE o_custkey = ? AND "
                "o_orderstatus = ?", (cust, status))[0][0]
            return None if flag == want else f"exists: {flag}, expected {want}"
        return Op("exists", call, check)

    def _walk(self, cust_below: int) -> Op:
        def call():
            page = (self.db.query("orders").where("o_custkey", "<", cust_below)
                    .order_by_asc("o_orderdate", "o_orderkey")
                    .limit(PAGE_SIZE).run())
            rows = list(page.records)
            for _ in range(WALK_PAGES - 1):
                page = page.next_page()
                rows.extend(page.records)
            return rows

        def check(rows):
            want = self._oracle(
                "SELECT * FROM orders WHERE o_custkey < ? ORDER BY "
                "o_orderdate, o_orderkey LIMIT ?",
                (cust_below, PAGE_SIZE * WALK_PAGES))
            return _same_rows([tuple(r[c] for c in ORDERS_COLS)
                               for r in rows], want, "walk")
        return Op("walk", call, check)

    def _large_page(self, part_below: int) -> Op:
        def call():
            return (self.db.query("lineitem")
                    .where("l_partkey", "<", part_below)
                    .select(LARGE_COLS)
                    .order_by_asc("l_orderkey", "l_linenumber")
                    .limit(LARGE_PAGE).run().records)

        def check(rows):
            want = self._oracle(
                f"SELECT {', '.join(LARGE_COLS)} FROM lineitem WHERE "
                "l_partkey < ? ORDER BY l_orderkey, l_linenumber LIMIT ?",
                (part_below, LARGE_PAGE))
            return _same_rows([tuple(r[c] for c in LARGE_COLS)
                               for r in rows], want, "large_page")
        return Op("large_page", call, check)


# ===================================================================
# ingest_mutate
# ===================================================================
#: base rows copied into the warehouse table at scale 0.1
BASE_ROWS = 5_000
INSERT_BATCH = 500
DELETE_BATCH = 20
UPSERT_BATCH = 50
RANGE_SPAN = 50
RANGE_LIMIT = 200


def _row_bytes(row: dict) -> int:
    """Logical size of a row as the user handed it over: 8 bytes per
    number, the UTF-8 length of each string."""
    return sum(len(v.encode()) if isinstance(v, str) else 8
               for v in row.values())


class IngestMutate:
    """A warehouse engine seeded with a primary-keyed copy of orders and
    driven by a seeded stream of writes, flushes, point and range reads
    and KV calls.  A Python model of the table and the KV namespace
    checks every read, every write's matched count, and at the end the
    whole table as a fresh engine reopens it from the flushed files."""

    name = "ingest_mutate"
    tables = ("orders",)
    #: one iteration is about as long as a run can afford
    iterations = 1

    def __init__(self, spark, data_dir: str, info: dict, seed: int,
                 work_dir: str):
        import pyarrow.parquet as pq

        self.spark, self.data_dir, self.work_dir = spark, data_dir, work_dir
        self.rng = random.Random(seed)
        self.n_cust = info["rows"]["customer"]
        self.base_rows = min(BASE_ROWS, info["rows"]["orders"])
        src = pq.read_table(os.path.join(data_dir, "orders.parquet"),
                            columns=["o_orderkey", "o_custkey",
                                     "o_orderstatus", "o_totalprice",
                                     "o_orderpriority"],
                            filters=[("o_orderkey", "<", self.base_rows)]
                            ).to_pydict()
        self.base = {
            str(k): {"id": str(k), "o_custkey": c, "o_status": s,
                     "o_totalprice": p, "o_priority": pr}
            for k, c, s, p, pr in zip(*src.values())}
        self.model: dict = {}
        self.kv_model: dict = {}
        self.db = None
        self.wh = os.path.join(work_dir, "warehouse")
        self._next_id = 0
        self.user_bytes = 0
        self._snap: dict = {}
        self._deleted: list[str] = []
        self._inserted: list[str] = []

    # ---- engine ------------------------------------------------------
    def open(self):
        from tostore_spark import ToStoreSpark
        self.db = ToStoreSpark(self.spark, warehouse=self.wh)

    def load(self):
        from pyspark.sql import functions as F

        from tostore_spark import ToStoreSpark
        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig, TableSchema)
        src = ToStoreSpark(self.spark, data_dir=self.data_dir).df("orders")
        df = (src.filter(F.col("o_orderkey") < self.base_rows)
              .select(F.col("o_orderkey").cast("string").alias("id"),
                      "o_custkey", F.col("o_orderstatus").alias("o_status"),
                      "o_totalprice",
                      F.col("o_orderpriority").alias("o_priority")))
        schema = TableSchema(
            name="orders", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="o_custkey", type=DataType.bigInt),
                    FieldSchema(name="o_status", type=DataType.text),
                    FieldSchema(name="o_totalprice", type=DataType.double),
                    FieldSchema(name="o_priority", type=DataType.text)])
        self.db.register_table("orders", df=df, schema=schema)
        self.db.flush()
        self.model = {k: dict(v) for k, v in self.base.items()}

    def warm_up(self):
        """One full iteration, so every write path, the flush fast paths
        and the reads have run once before the window opens.  It leaves
        the table's recipe at 5 entries (each flush adds two); the window
        takes it to 9, so every flush in it appends a segment."""
        yield from self.iteration(-1)
        self._snap = self._files()
        self.user_bytes = 0

    def close(self):
        pass

    # ---- warehouse accounting ----------------------------------------
    def _files(self) -> dict:
        out = {}
        for dirpath, _dirs, files in os.walk(self.wh):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def after_flush(self) -> dict:
        """Bytes and files the last flush wrote, and whether it rewrote
        the table or added a segment (a rewrite leaves no
        ``_segments.json`` in its version directory)."""
        snap = self._files()
        new = [p for p, v in snap.items() if self._snap.get(p) != v]
        self._snap = snap
        vdirs = {os.path.dirname(p) for p in new
                 if os.path.basename(os.path.dirname(p)).startswith("v")
                 and p.endswith(".parquet")}
        rewrite = bool(vdirs) and not any(
            os.path.exists(os.path.join(d, "_segments.json")) for d in vdirs)
        return {"bytes": sum(snap[p][0] for p in new), "files": len(new),
                "rewrite": rewrite}

    def warehouse_bytes(self) -> int:
        return sum(v[0] for v in self._files().values())

    def live_bytes(self) -> int:
        """Bytes of the files the current table version reads."""
        import json
        with open(os.path.join(self.wh, "manifest.json")) as fh:
            man = json.load(fh)
        ent = next(e for e in man["tables"].values()
                   if e["name"] == "orders")
        tdir = os.path.join(self.wh, ent.get("space", "default"), "orders")
        vdir = os.path.join(tdir, f"v{ent['version']}")
        side = os.path.join(vdir, "_segments.json")
        roots = [vdir]
        if os.path.exists(side):
            with open(side) as fh:
                roots = [p for _k, p in json.load(fh)["ops"]]
        total = 0
        for root in {r.replace("file:", "") for r in roots}:
            for dirpath, _dirs, files in os.walk(root):
                total += sum(os.path.getsize(os.path.join(dirpath, f))
                             for f in files if not f.startswith("."))
        return total

    def compact_bytes(self) -> int:
        """The live table written once: one snappy parquet file."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        path = os.path.join(self.work_dir, "compact.parquet")
        rows = sorted(self.model.values(), key=lambda r: r["id"])
        pq.write_table(pa.Table.from_pylist(rows), path)
        return os.path.getsize(path)

    # ---- stream --------------------------------------------------------
    def _new_row(self) -> dict:
        self._next_id += 1
        return {"id": f"n{self._next_id:08d}",
                "o_custkey": self.rng.randrange(self.n_cust),
                "o_status": self.rng.choice("FOP"),
                "o_totalprice": round(self.rng.uniform(800, 500_000), 2),
                "o_priority": self.rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"])}

    def _some_ids(self, n: int) -> list[str]:
        return self.rng.sample(sorted(self.model), n)

    def iteration(self, i: int):
        """A generator: each op is built only after the ops before it
        have been applied to the model, so ids to delete and keys to
        read are drawn from the current state.  The flush policy is a
        ``flush()`` after every second write (k = 2); reads follow the
        flushes."""
        yield self._insert()
        yield self._update()
        yield self._flush()
        yield self._first()
        yield self._range()
        yield self._kv_set()
        yield self._kv_get()
        yield self._delete()
        yield self._upsert()
        yield self._flush()
        yield self._first_deleted()

    def _flush(self) -> Op:
        return Op("flush", lambda: self.db.flush(),
                  lambda out: None if out in ([], ["orders"])
                  else f"flush returned {out!r}")

    def _insert(self) -> Op:
        rows = [self._new_row() for _ in range(INSERT_BATCH)]

        def call():
            return self.db.batch_insert("orders", [dict(r) for r in rows])

        def check(res):
            self._inserted = [r["id"] for r in rows]
            for r in rows:
                self.model[r["id"]] = r
            self.user_bytes += sum(_row_bytes(r) for r in rows)
            return None if res.is_success else f"insert failed: {res!r}"
        return Op("insert", call, check)

    def _update(self) -> Op:
        cust = self.model[self.rng.choice(sorted(self.model))]["o_custkey"]
        status = f"U{self.rng.randrange(1000)}"

        def call():
            return (self.db.update("orders", {"o_status": status})
                    .where("o_custkey", "=", cust).execute())

        def check(n):
            hit = [r for r in self.model.values() if r["o_custkey"] == cust]
            for r in hit:
                r["o_status"] = status
                self.user_bytes += _row_bytes(r)
            return None if n == len(hit) else \
                f"update matched {n}, expected {len(hit)}"
        return Op("update", call, check)

    def _delete(self) -> Op:
        ids = self._some_ids(DELETE_BATCH)

        def call():
            return (self.db.delete("orders").where("id", "IN", ids)
                    .execute())

        def check(n):
            self._deleted = ids
            for k in ids:
                del self.model[k]
            self.user_bytes += sum(len(k) for k in ids)
            return None if n == len(ids) else \
                f"delete matched {n}, expected {len(ids)}"
        return Op("delete", call, check)

    def _upsert(self) -> Op:
        rows = []
        for k in self._some_ids(UPSERT_BATCH * 4 // 5):
            r = dict(self.model[k])
            r["o_totalprice"] = round(self.rng.uniform(800, 500_000), 2)
            r["o_status"] = "S"
            rows.append(r)
        rows += [self._new_row() for _ in range(UPSERT_BATCH // 5)]

        def call():
            self.db.batch_upsert("orders", [dict(r) for r in rows])

        def check(_):
            for r in rows:
                self.model[r["id"]] = r
            self.user_bytes += sum(_row_bytes(r) for r in rows)
            return None
        return Op("upsert", call, check)

    def _first(self) -> Op:
        """A point read of a row the iteration's insert wrote: every
        seed reads the same kind of key, so which segments the read can
        skip does not depend on the seed."""
        return self._point(self.rng.choice(self._inserted))

    def _first_deleted(self) -> Op:
        """A point read of a key the last delete removed: the "no row"
        answer through the deletion vector."""
        return self._point(self.rng.choice(self._deleted))

    def _point(self, pk: str) -> Op:
        def call():
            return self.db.query("orders").where("id", "=", pk).first()

        def check(row):
            want = self.model.get(pk)
            return None if row == want else f"first({pk}): {row!r}, " \
                f"expected {want!r}"
        return Op("first", call, check)

    def _range(self) -> Op:
        lo = self.rng.randrange(self.n_cust - RANGE_SPAN)

        def call():
            return (self.db.query("orders")
                    .where("o_custkey", ">=", lo)
                    .where("o_custkey", "<", lo + RANGE_SPAN)
                    .order_by_asc("id").limit(RANGE_LIMIT).run().records)

        def check(rows):
            want = sorted((r for r in self.model.values()
                           if lo <= r["o_custkey"] < lo + RANGE_SPAN),
                          key=lambda r: r["id"])[:RANGE_LIMIT]
            return _same_rows(rows, want, "range")
        return Op("range", call, check)

    def _kv_set(self) -> Op:
        key = f"k{self.rng.randrange(200)}"
        val = {"n": self.rng.randrange(10**6), "tag": self.rng.choice("abc")}

        def call():
            self.db.set_value(key, val)

        def check(_):
            self.kv_model[key] = val
            return None
        return Op("kv_set", call, check)

    def _kv_get(self) -> Op:
        key = self.rng.choice(sorted(self.kv_model) or ["k0"])

        def call():
            return self.db.get_value(key)

        def check(v):
            want = self.kv_model.get(key)
            return None if v == want else f"kv {key}: {v!r}, expected {want!r}"
        return Op("kv_get", call, check)

    def final_check(self) -> Optional[str]:
        """Flush, reopen the warehouse in a new engine, and compare the
        whole table and the KV namespace with the model."""
        from tostore_spark import ToStoreSpark
        self.db.flush()
        db2 = ToStoreSpark(self.spark, warehouse=self.wh)
        got = sorted((r.asDict() for r in db2.df("orders").collect()),
                     key=lambda r: r["id"])
        want = sorted(self.model.values(), key=lambda r: r["id"])
        err = _same_rows(got, want, "reopened table")
        if err:
            return err
        for k, v in self.kv_model.items():
            if db2.get_value(k) != v:
                return f"reopened kv {k}: {db2.get_value(k)!r}, expected {v!r}"
        return None


# ===================================================================
# dedup_vector
# ===================================================================
KNN_QUERIES = 100
KNN_K = 10
SEARCH_BURST = 9
SEARCH_K = 10
WARM_PASSES = 1


def _topk_check(got_ids: list, got_dist: list, corpus: np.ndarray,
                q: np.ndarray, k: int, what: str) -> Optional[str]:
    """Compare engine top-k ids with an exact NumPy cosine top-k; a
    different id is accepted only where the two distances tie to 1e-9."""
    d = 1.0 - (corpus @ q) / (np.linalg.norm(corpus, axis=1)
                              * np.linalg.norm(q))
    order = np.lexsort((np.arange(len(d)), d))[:k]
    if list(order) == list(got_ids):
        return None
    if len(got_ids) == k and np.allclose(np.asarray(got_dist), d[order],
                                         rtol=0, atol=1e-9):
        return None
    return f"{what}: ids {list(got_ids)}, expected {list(order)}"


def _components(edges) -> dict:
    """Connected components of an edge list: each node's smallest
    reachable id."""
    parent: dict = {}

    def root(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in parent}


class DedupVector:
    """Near-duplicate detection over the documents, a batch k-NN join
    and a burst of single vector searches over the embeddings."""

    name = "dedup_vector"
    tables = ("documents", "embeddings")
    #: one iteration is about as long as a run can afford; a fixed count
    #: keeps runs on either side of ``--seconds`` comparable
    iterations = 1

    def __init__(self, spark, data_dir: str, info: dict, seed: int,
                 work_dir: str):
        import pyarrow.parquet as pq

        self.spark, self.data_dir = spark, data_dir
        self.rng = np.random.default_rng(seed)
        self.injected = info["injected_duplicates"]
        self.n_docs = info["rows"]["documents"]
        emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
        self.corpus = np.asarray(emb.column("embedding").to_pylist(),
                                 dtype=np.float64)
        self.dim = self.corpus.shape[1]
        self.db = None

    def open(self):
        from tostore_spark import ToStoreSpark
        self.db = ToStoreSpark(self.spark, data_dir=self.data_dir)

    def load(self):
        self.db.query("documents").count()
        self.db.query("embeddings").count()

    def warm_up(self):
        """One dedup and one knn_join pass and three searches: the first
        dedup pass over the corpus pays for code generation and JIT."""
        for _ in range(WARM_PASSES):
            yield self._dedup()
            yield self._knn(KNN_QUERIES)
        for _ in range(3):
            yield self._search()

    def close(self):
        pass

    def final_check(self) -> Optional[str]:
        return None

    def iteration(self, i: int) -> list[Op]:
        return ([self._dedup(), self._knn(KNN_QUERIES)]
                + [self._search() for _ in range(SEARCH_BURST)])

    def _queries(self, n: int) -> np.ndarray:
        return (self.rng.standard_normal((n, self.dim)) * 0.1).astype(
            np.float32)

    def _dedup(self) -> Op:
        from tostore_spark.llmops import dedup

        def call():
            docs = self.db.df("documents")
            pairs = dedup.minhash_lsh_pairs(docs)
            # dedup_apply clusters the pairs (dedup_clusters) itself
            return pairs, dedup.dedup_apply(docs, pairs).count()

        def probe(out):
            pairs = out[0].count()
            return {"dedup.pairs": pairs,
                    "dedup.pairs_per_doc": pairs / self.n_docs}

        def check(out):
            pairs, kept = out
            cid = _components((r["id_a"], r["id_b"]) for r in pairs.collect())
            for src, dup in self.injected:
                if src not in cid or cid.get(src) != cid.get(dup):
                    return f"dedup: duplicate {dup} not in {src}'s cluster"
            want = self.n_docs - (len(cid) - len(set(cid.values())))
            return None if kept == want else \
                f"dedup_apply kept {kept}, expected {want}"
        return Op("dedup", call, check, probe)

    def _knn(self, n: int) -> Op:
        from tostore_spark.llmops import similarity as sim
        qv = self._queries(n)
        qdf = self.spark.createDataFrame(
            [(10**9 + j, [float(x) for x in v]) for j, v in enumerate(qv)],
            "vec_id long, embedding array<float>")
        emb = self.db.df("embeddings")

        def call():
            df = sim.knn_join(qdf, emb, k=KNN_K)
            return df, df.collect()

        def probe(out):
            plan = out[0]._jdf.queryExecution().executedPlan().toString()
            final = plan.split("== Initial Plan ==")[0]
            return {"similarity.broadcast_joins":
                    final.count("BroadcastHashJoin")
                    + final.count("BroadcastNestedLoopJoin")}

        def check(out):
            by_q: dict = {}
            for r in out[1]:
                by_q.setdefault(r["query_id"], []).append(r)
            if len(by_q) != n:
                return f"knn_join answered {len(by_q)} of {n} queries"
            for j, v in enumerate(qv):
                rows = sorted(by_q[10**9 + j], key=lambda r: r["rank"])
                err = _topk_check([r["neighbor_id"] for r in rows],
                                  [r["distance"] for r in rows],
                                  self.corpus, v.astype(np.float64),
                                  KNN_K, "knn_join")
                if err:
                    return err
            return None
        return Op("knn_join", call, check, probe)

    def _search(self) -> Op:
        q = self._queries(1)[0]
        qlist = [float(x) for x in q]

        def call():
            return self.db.vector_search("embeddings", "embedding", qlist,
                                         top_k=SEARCH_K).collect()

        def check(rows):
            return _topk_check([r["vec_id"] for r in rows],
                               [r["distance"] for r in rows], self.corpus,
                               q.astype(np.float64), SEARCH_K,
                               "vector_search")
        return Op("vector_search", call, check)


WORKLOADS = {w.name: w for w in (ReadMix, IngestMutate, DedupVector)}
