"""In-memory spans around the benchmark's calls into each engine layer,
and the Spark event-log summary that goes with them.

The engine itself carries no tracing.  ``Tracer.install`` wraps, for the
life of one benchmark process, the public entry points of each layer
(``QueryBuilder.df``/``run``, the ``write`` and ``store`` functions, the
KV store, ``vector_search``, the dedup and similarity operators) and
``DataFrame.localCheckpoint`` plus the DataFrame actions.  A wrapper
records a span only while ``Tracer.active`` is set, which the runner does
around each operation's call, so checks and probes stay out of the spans.

A span is ``[id, parent, name, t0, t1, attrs]`` with wall-clock times.
Each benchmark operation opens a root span ``op:<kind>`` and runs under
its own Spark job group, so every job in the event log is tied to the
operation, and through its submission time to the innermost span that
was open when it started.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: DataFrame actions: a span named ``<layer>.exec`` of the enclosing layer
_ACTIONS = ("collect", "count", "take", "first", "isEmpty", "toPandas",
            "toArrow", "toLocalIterator")

#: the layer a root operation's own direct work belongs to
OP_LAYER = {
    "page": "query", "group": "query", "join_count": "query",
    "count": "query", "exists": "query", "walk": "query",
    "large_page": "query", "first": "query", "range": "query",
    "insert": "write", "update": "write", "delete": "write",
    "upsert": "write", "flush": "store", "kv_set": "kv", "kv_get": "kv",
    "dedup": "dedup", "knn_join": "similarity", "vector_search": "vector",
}


#: the per-layer metrics a traced run reports, with their units
PER_LAYER = {
    "session.start_s": "s", "engine.open_s": "s",
    "query.build_s": "s", "query.py4j_calls": "count",
    "query.exec_s": "s", "query.convert_s": "s", "query.rows_out": "count",
    "cursor.page_s": "s", "query_cache.hit_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.scheduler_delay_s": "s",
    "spark.input_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "pin.eager_calls": "count", "pin.lazy_calls": "count",
    "pin.eager_s": "s", "pin.lazy_s": "s",
    "pin.eager_jobs": "count", "pin.lazy_jobs": "count",
    "write.insert_s": "s", "write.update_s": "s", "write.delete_s": "s",
    "write.upsert_s": "s", "write.jobs": "count", "write.rows": "count",
    "store.flush_s": "s", "store.segment_flushes": "count",
    "store.rewrite_flushes": "count", "store.bytes_written": "B",
    "store.files_written": "count", "store.live_bytes": "B",
    "kv.op_s": "s", "vector.search_s": "s",
    "dedup.build_s": "s", "dedup.exec_s": "s", "dedup.pairs": "count",
    "dedup.pairs_per_doc": "ratio", "dedup.cluster_jobs": "count",
    "similarity.knn_s": "s", "similarity.broadcast_joins": "count",
    "trace.overhead": "ratio", "trace.attributed_share": "ratio",
    "trace.coverage": "ratio", "trace.unattributed_s": "s",
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.py4j_calls = 0

    # ---- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [sid, parent, name, time.time(), None,
               dict(attrs, py4j0=self.py4j_calls)]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec[4] = time.time()
            rec[5]["py4j"] = self.py4j_calls - rec[5].pop("py4j0")

    @contextmanager
    def op(self, kind: str, seq: int):
        """Root span of one benchmark operation, run under job group
        ``op<seq>`` while tracing is active."""
        if not self.active:
            yield None
            return
        self.sc.setJobGroup(f"op{seq}", kind)
        try:
            with self.span(f"op:{kind}", seq=seq) as rec:
                yield rec
        finally:
            self.sc.setJobGroup("untraced", "")

    def _layer(self) -> str:
        if not self._stack:
            return "bench"
        name = self.spans[self._stack[-1]][2]
        if name.startswith("op:"):
            return OP_LAYER.get(name[3:], "bench")
        return name.split(".")[0]

    # ---- patching ----------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, attrs=None, result=None):
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            if not tracer.active:
                return orig(*a, **kw)
            with tracer.span(name, **(attrs(a, kw) if attrs else {})) as rec:
                out = orig(*a, **kw)
                if result is not None:
                    rec[5].update(result(out))
                return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def _wrap_action(self, DataFrame, attr: str):
        orig = getattr(DataFrame, attr)
        tracer = self

        def wrapper(*a, **kw):
            if not tracer.active or (
                    tracer._stack and
                    tracer.spans[tracer._stack[-1]][2].endswith(".exec")):
                return orig(*a, **kw)
            with tracer.span(f"{tracer._layer()}.exec"):
                return orig(*a, **kw)

        setattr(DataFrame, attr, wrapper)
        self._patched.append((DataFrame, attr, orig))

    def install(self) -> None:
        from tostore_spark import kv, query, store, vector, write
        from tostore_spark.llmops import dedup, similarity

        def _rows(res):
            return {"rows": len(res)}

        self._wrap(query.QueryBuilder, "df", "query.build")
        self._wrap(query.QueryBuilder, "run", "query.run",
                   attrs=lambda a, kw: {"cursor": bool(a[0]._cursor_token)},
                   result=_rows)
        self._wrap(query.QueryBuilder, "count", "query.count")
        self._wrap(query.QueryBuilder, "exists", "query.exists")
        self._wrap(write, "insert", "write.insert",
                   attrs=lambda a, kw: {"rows": len(a[2])})
        self._wrap(write, "upsert", "write.upsert",
                   attrs=lambda a, kw: {"rows": len(a[2])})
        self._wrap(write.UpdateBuilder, "execute", "write.update",
                   result=lambda n: {"rows": n})
        self._wrap(write.DeleteBuilder, "execute", "write.delete",
                   result=lambda n: {"rows": n})
        self._wrap(store, "flush_tables", "store.flush")
        self._wrap(kv.KvStore, "set_value", "kv.set")
        self._wrap(kv.KvStore, "get_value", "kv.get")
        self._wrap(vector, "vector_search", "vector.search")
        self._wrap(dedup, "minhash_lsh_pairs", "dedup.pairs")
        self._wrap(dedup, "dedup_clusters", "dedup.clusters")
        self._wrap(dedup, "dedup_apply", "dedup.apply")
        self._wrap(similarity, "knn_join", "similarity.knn")
        # the session's concrete DataFrame class: Spark 4 implements the
        # methods on a subclass of ``pyspark.sql.DataFrame``
        DataFrame = type(self.spark.range(1))
        self._wrap(DataFrame, "localCheckpoint", "pin",
                   attrs=lambda a, kw: {"eager": bool(
                       kw.get("eager", a[1] if len(a) > 1 else True))})
        for act in _ACTIONS:
            self._wrap_action(DataFrame, act)
        client = self.sc._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counting_send(*a, **kw):
            tracer.py4j_calls += 1
            return send(*a, **kw)

        client.send_command = counting_send
        self._patched.append((client, "send_command", send))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


# ---- event log ------------------------------------------------------
def read_event_log(log_dir: str) -> dict:
    """Jobs (with job group, submission time and stages) and per-stage
    task-metric sums from the Spark event log under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes a directory per application (rolling event files
    # plus an empty ``appstatus`` marker); older layouts write one file
    for path in sorted(glob.glob(os.path.join(log_dir, "**"),
                                 recursive=True)):
        if not os.path.isfile(path) or \
                os.path.basename(path).startswith("appstatus"):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                                 "t": ev["Submission Time"] / 1000.0,
                                 "stages": ev["Stage IDs"]}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    st = stages[ev["Stage ID"]]
                    run_ms = m.get("Executor Run Time", 0)
                    st["tasks"] += 1
                    st["run_s"] += run_ms / 1e3
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    wall = info.get("Finish Time", 0) - info.get(
                        "Launch Time", 0)
                    st["sched_s"] += max(0, wall - run_ms - m.get(
                        "Executor Deserialize Time", 0) - m.get(
                        "Result Serialization Time", 0) - info.get(
                        "Getting Result Time", 0)) / 1e3
                    st["input_b"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_b"] += sr.get(
                        "Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["shuffle_write_b"] += (m.get(
                        "Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages}


# ---- per-layer summary ----------------------------------------------
def _self_times(spans: list[list]) -> list[float]:
    """Duration of each span minus the part its children cover
    (children never overlap: the benchmark is single-threaded)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s[1] is not None:
            child[s[1]] += s[4] - s[3]
    return [s[4] - s[3] - child[i] for i, s in enumerate(spans)]


def _ancestors(spans, sid):
    while sid is not None:
        yield spans[sid]
        sid = spans[sid][1]


def _innermost(spans, root_id: int, t: float):
    """Innermost span under ``root_id`` open at wall time ``t``: spans
    are stored in start order and only nest, so it is the last one
    started that still covers ``t``."""
    root = best = spans[root_id]
    for s in spans[root_id + 1:]:
        if s[3] > root[4]:
            break
        if s[3] <= t <= s[4]:
            best = s
    return best


def layer_metrics(tracer: Tracer, log: dict, extra: dict) -> dict:
    """Reduce spans and the event log to the per-layer metrics.

    Times are seconds per call of the span (or per operation where the
    name says so); Spark metrics are per traced operation."""
    spans = tracer.spans
    selft = _self_times(spans)
    roots = [s for s in spans if s[1] is None and s[2].startswith("op:")]
    n_ops = max(1, len(roots))
    by_name: dict[str, list[int]] = defaultdict(list)
    for s in spans:
        by_name[s[2]].append(s[0])

    def mean_dur(name, pred=lambda s: True):
        ids = [i for i in by_name.get(name, []) if pred(spans[i])]
        return (sum(spans[i][4] - spans[i][3] for i in ids) / len(ids)
                if ids else 0.0)

    def self_sum(names):
        return sum(selft[i] for n in names for i in by_name.get(n, []))

    def under(kind_prefix):
        return [r for r in roots if r[2].startswith(kind_prefix)]

    query_ops = [r for r in roots if OP_LAYER.get(r[2][3:]) == "query"]
    n_q = max(1, len(query_ops))
    builds = by_name.get("query.build", [])
    runs = by_name.get("query.run", [])
    dedup_ops = under("op:dedup")
    n_dedup = max(1, len(dedup_ops))

    # jobs -> (root op, innermost span at submission)
    root_by_seq = {r[5]["seq"]: r for r in roots}
    job_span = {}
    for jid, job in log["jobs"].items():
        grp = job["group"] or ""
        if grp.startswith("op") and int(grp[2:]) in root_by_seq:
            root = root_by_seq[int(grp[2:])]
            job_span[jid] = _innermost(spans, root[0], job["t"])

    def jobs_in(pred):
        """Jobs whose innermost span, or one of its ancestors, matches."""
        return sum(1 for s in job_span.values()
                   if any(pred(a) for a in _ancestors(spans, s[0])))

    pins = by_name.get("pin", [])
    eager = [i for i in pins if spans[i][5]["eager"]]
    lazy = [i for i in pins if not spans[i][5]["eager"]]
    traced_jobs = set(job_span)
    agg = defaultdict(float)
    stages_seen = set()
    for sid, jid in log["stage_job"].items():
        if jid in traced_jobs and sid in log["stages"]:
            stages_seen.add(sid)
            for k, v in log["stages"][sid].items():
                agg[k] += v
    op_time = sum(r[4] - r[3] for r in roots)
    unattributed = sum(selft[r[0]] for r in roots)
    m = {
        "query.build_s": (self_sum(["query.build", "query.count",
                                    "query.exists"]) / n_q),
        "query.py4j_calls": (sum(spans[i][5]["py4j"] for i in builds)
                             / max(1, len(builds))),
        "query.exec_s": self_sum(["query.exec"]) / n_q,
        "query.convert_s": self_sum(["query.run"]) / max(1, len(runs)),
        "query.rows_out": (sum(spans[i][5].get("rows", 0) for i in runs)
                           / max(1, len(runs))),
        "cursor.page_s": mean_dur("query.run",
                                  lambda s: s[5].get("cursor")),
        "spark.jobs": len(traced_jobs) / n_ops,
        "spark.stages": len(stages_seen) / n_ops,
        "spark.tasks": agg["tasks"] / n_ops,
        "spark.executor_run_s": agg["run_s"] / n_ops,
        "spark.executor_cpu_s": agg["cpu_s"] / n_ops,
        "spark.gc_s": agg["gc_s"] / n_ops,
        "spark.scheduler_delay_s": agg["sched_s"] / n_ops,
        "spark.input_bytes": agg["input_b"] / n_ops,
        "spark.shuffle_read_bytes": agg["shuffle_read_b"] / n_ops,
        "spark.shuffle_write_bytes": agg["shuffle_write_b"] / n_ops,
        "spark.spill_bytes": agg["spill_b"] / n_ops,
        "pin.eager_calls": len(eager) / n_ops,
        "pin.lazy_calls": len(lazy) / n_ops,
        "pin.eager_s": sum(spans[i][4] - spans[i][3] for i in eager) / n_ops,
        "pin.lazy_s": sum(spans[i][4] - spans[i][3] for i in lazy) / n_ops,
        "pin.eager_jobs": jobs_in(
            lambda s: s[2] == "pin" and s[5]["eager"]) / n_ops,
        "pin.lazy_jobs": jobs_in(
            lambda s: s[2] == "pin" and not s[5]["eager"]) / n_ops,
        "write.insert_s": mean_dur("write.insert"),
        "write.update_s": mean_dur("write.update"),
        "write.delete_s": mean_dur("write.delete"),
        "write.upsert_s": mean_dur("write.upsert"),
        "write.jobs": (jobs_in(lambda s: s[2].startswith("write."))
                       / max(1, sum(len(by_name.get(n, [])) for n in (
                           "write.insert", "write.update", "write.delete",
                           "write.upsert")))),
        "write.rows": sum(spans[i][5].get("rows", 0) for n in (
            "write.insert", "write.update", "write.delete", "write.upsert")
            for i in by_name.get(n, [])),
        "store.flush_s": mean_dur("store.flush"),
        "kv.op_s": ((self_sum(["kv.set", "kv.get"]))
                    / max(1, len(by_name.get("kv.set", []))
                          + len(by_name.get("kv.get", [])))),
        "vector.search_s": sum(r[4] - r[3] for r in under(
            "op:vector_search")) / max(1, len(under("op:vector_search"))),
        "dedup.build_s": (self_sum(["dedup.pairs", "dedup.clusters",
                                    "dedup.apply"])
                          + sum(spans[i][4] - spans[i][3] for i in pins
                                if any(a[2].startswith("dedup.") for a in
                                       _ancestors(spans, spans[i][1]))))
        / n_dedup,
        "dedup.exec_s": self_sum(["dedup.exec"]) / n_dedup,
        "dedup.cluster_jobs": jobs_in(
            lambda s: s[2] == "dedup.clusters") / n_dedup,
        "similarity.knn_s": sum(r[4] - r[3] for r in under(
            "op:knn_join")) / max(1, len(under("op:knn_join"))),
        "trace.attributed_share": (1.0 - unattributed / op_time
                                   if op_time else 0.0),
        # time of the operations spent inside layer spans
        "attributed_s": op_time - unattributed,
    }
    m.update(extra)
    return m
