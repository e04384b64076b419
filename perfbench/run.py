"""Benchmark entry point.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 5 \\
        --trace 0

Run from the root of a checkout.  One process runs one workload on a
fresh Spark session (``local[<cpus>]``) as a single closed-loop client:
generate the seeded inputs, set up (timed as ``setup_s``), then run whole
iterations of the workload's operation mix until ``--seconds`` have
passed, checking every result.  Everything the run writes lives under
``.perfbench_work/`` in the checkout and is deleted at exit; spans and the
result of each run are kept under ``.perfbench_results/``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
operation and prints the per-layer metrics (see ``README.md``).  A traced
run compares itself with the untraced run of the same workload, scale,
seed and code: it reads that run's record from ``.perfbench_results/``,
or makes it first in a child process.  The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from glob import glob

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".perfbench_results")
DRIVER_MEMORY = "2g"
#: the gated end-to-end metrics; the latency percentiles are printed
#: too but not gated (see README.md, "Steadiness")
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s"}
QUERY_KINDS = {"page", "group", "join_count", "count", "exists", "walk",
               "large_page", "first", "range"}
WRITE_KINDS = {"insert", "update", "delete", "upsert"}
_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - _T0:7.1f}s {msg}",
          file=sys.stderr, flush=True)


def _percentile(values: list, q: float) -> float:
    """Linear-interpolated percentile (``numpy.percentile``'s default)."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _start_spark(work: str, cpus: int, event_log: str | None):
    from tostore_spark import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a fixed-size heap: a heap that grows during the run changes how
        # often the collector runs from one run to the next
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp}",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _canary(spark) -> float:
    """Engine-independent host check: median of three range aggregations."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, numPartitions=8) \
            .selectExpr("sum(id % 7)").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from
    ``/proc/stat``; (0, 0) where there is none."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def _code_hash() -> str:
    """Digest of the engine's and the benchmark's sources."""
    h = hashlib.sha256()
    sources = glob(os.path.join(ROOT, "tostore_spark", "**", "*.py"),
                   recursive=True) + glob(os.path.join(HERE, "*.py"))
    for path in sorted(sources):
        with open(path, "rb") as fh:
            h.update(path[len(ROOT):].encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def _result_path(args, trace: int) -> str:
    return os.path.join(RESULTS, f"{args.workload}-sf{args.sf:g}-"
                                 f"seed{args.seed}-trace{trace}.json")


def _reference(args, code: str) -> dict:
    """The record of the untraced run of the same workload, scale, seed
    and code, made first in a child process if there is none."""
    path = _result_path(args, 0)
    if os.path.exists(path):
        with open(path) as fh:
            ref = json.load(fh)
        if ref["env"]["code"] == code:
            return ref
    _log("running the untraced reference")
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", "0",
                    "--sf", str(args.sf)],
                   cwd=ROOT, stdout=subprocess.DEVNULL, check=True)
    with open(path) as fh:
        return json.load(fh)


def _run_op(op) -> tuple:
    """Call ``op`` and time the call alone.  Returns ``(out, seconds,
    error)``; a raised exception is an error."""
    t0 = time.perf_counter()
    try:
        return op.call(), time.perf_counter() - t0, None
    except Exception as exc:
        return None, time.perf_counter() - t0, f"{op.kind} raised {exc!r}"


def _check(op, out) -> str | None:
    try:
        return op.check(out)
    except Exception as exc:
        return f"{op.kind} check raised {exc!r}"


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    import datagen
    from workloads import WORKLOADS

    code = _code_hash()
    ref = _reference(args, code) if args.trace else None
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = wl = None
    try:
        data = os.path.join(work, "data")
        info = datagen.generate(data, args.sf, args.seed,
                                WORKLOADS[args.workload].tables)
        _log(f"inputs generated: {info['rows']}")
        event_log = os.path.join(work, "eventlog") if args.trace else None

        t0 = time.perf_counter()
        spark = _start_spark(work, cpus, event_log)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, data, info, args.seed, work)
        t0 = time.perf_counter()
        wl.open()
        t1 = time.perf_counter()
        wl.load()
        open_s, load_s = t1 - t0, time.perf_counter() - t1
        # only the calls of the warm-up operations are set-up time; their
        # checks (and the model updates in them) run untimed
        warm_s, warm_errors, warm_ops = 0.0, [], 0
        for op in wl.warm_up():
            warm_ops += 1
            out, dt, err = _run_op(op)
            _log(f"warm-up {op.kind} {dt:.2f}s")
            warm_s += dt
            err = err or _check(op, out)
            if err is not None:
                warm_errors.append("warm-up " + err)
        _log(f"set up: session {session_s:.1f}s, warm-up {warm_s:.1f}s")
        setup_s = session_s + open_s + load_s + warm_s

        # the benchmark's own long-lived objects (inputs, models) must not
        # make the cyclic collector pause inside timed operations
        gc.collect()
        gc.freeze()
        tracer = None
        if args.trace:
            from tracing import Tracer
            tracer = Tracer(spark)
            tracer.install()
        ticks0 = _cpu_ticks()
        res = _measure(wl, args.seconds, tracer,
                       ref["env"]["iterations"] if ref else None)
        res["errors"][:0] = warm_errors
        # every warm-up and measured operation, and the final check
        res["attempted"] = len(res["samples"]) + warm_ops + 1
        _log(f"measured {res['iterations']} iterations")
        if tracer is not None:
            tracer.uninstall()
        ticks1 = _cpu_ticks()
        final_err = wl.final_check()
        canary_s = _canary(spark)
        env = {"workload": args.workload, "seed": args.seed, "sf": args.sf,
               "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
               "default_parallelism": spark.sparkContext.defaultParallelism,
               "spark": spark.version,
               "python": platform.python_version(),
               "rows": info["rows"], "canary_s": canary_s, "code": code,
               # share of the host's CPU time taken by other guests while
               # the window ran: like the canary, it shows host drift
               "steal_share": (ticks1[0] - ticks0[0])
               / max(1, ticks1[1] - ticks0[1])}
        _log("checked")
        _stop_spark(spark)
        spark = None
        _log("session stopped")
        return _report(wl, args, res, final_err, env, {
            "setup_s": setup_s, "session.start_s": session_s,
            "engine.open_s": open_s, "engine.load_s": load_s,
            "warm_up_s": warm_s}, tracer, event_log, ref)
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _measure(wl, seconds: float, tracer, iterations: int | None) -> dict:
    """Whole iterations: ``iterations`` (a traced run repeats its
    reference's count), else the workload's fixed number, else as many
    as fit in ``seconds`` of wall time.  With a tracer, every operation
    is traced and runs under its own job group ``op<seq>``."""
    fixed = iterations or wl.iterations
    samples = []            # (kind, seconds, iteration)
    errors = []
    probes: dict = {}
    flushes = []
    seq = 0
    start = time.perf_counter()
    it = 0
    while it < (fixed or 1) or (fixed is None
                                and time.perf_counter() - start < seconds):
        for op in wl.iteration(it):
            seq += 1
            if tracer is not None:
                tracer.active = True
            with tracer.op(op.kind, seq) if tracer else nullcontext():
                out, dt, err = _run_op(op)
            if tracer is not None:
                tracer.active = False
                if err is None and op.probe is not None:
                    for k, v in op.probe(out).items():
                        probes.setdefault(k, []).append(v)
            err = err or _check(op, out)
            if op.kind == "flush" and err is None:
                flushes.append(wl.after_flush())
            samples.append((op.kind, dt, it))
            if err is not None:
                errors.append(err)
        it += 1
    return {"samples": samples, "errors": errors, "probes": probes,
            "flushes": flushes, "iterations": it,
            "wall_s": time.perf_counter() - start}


def _median_of(samples, kinds) -> tuple[float, int]:
    v = [s[1] for s in samples if s[0] in kinds]
    return (statistics.median(v) if v else 0.0), len(v)


def _report(wl, args, res, final_err, env, setup, tracer, event_log,
            ref) -> dict:
    samples = res["samples"]
    errors = list(res["errors"]) + ([f"final check: {final_err}"]
                                    if final_err else [])
    attempted = res["attempted"]
    failed = len(errors)
    lat = [s[1] for s in samples]
    e2e = {
        "setup_s": setup["setup_s"],
        "ops_per_s": len(lat) / sum(lat),
    }
    # every figure the benchmark knows, with unit and sample count
    detail = {"setup_s": (e2e["setup_s"], "s", 1),
              "ops_per_s": (e2e["ops_per_s"], "1/s", len(lat)),
              "latency_p50_s": (_percentile(lat, 0.50), "s", len(lat)),
              "latency_p95_s": (_percentile(lat, 0.95), "s", len(lat)),
              "error_rate": (failed / attempted, "ratio", attempted)}
    for name, kinds in (("query_p50_s", QUERY_KINDS),
                        ("write_p50_s", WRITE_KINDS),
                        ("flush_p50_s", {"flush"}),
                        ("dedup_s", {"dedup"}),
                        ("knn_join_s", {"knn_join"}),
                        ("vector_search_p50_s", {"vector_search"})):
        med, n = _median_of(samples, kinds)
        if n:
            detail[name] = (med, "s", n)
    if hasattr(wl, "cache_hit_ratio"):
        detail["query_cache.hit_ratio"] = (wl.cache_hit_ratio(), "ratio",
                                           len(lat))
    if res["flushes"]:
        fl = res["flushes"]
        detail["write_amp"] = (sum(f["bytes"] for f in fl)
                               / max(1, wl.user_bytes), "B/B", len(fl))
        detail["space_amp"] = (wl.warehouse_bytes() / wl.compact_bytes(),
                               "B/B", 1)
        detail["rewrite_flushes"] = (sum(f["rewrite"] for f in fl),
                                     "count", len(fl))
    for k in ("session.start_s", "engine.open_s", "engine.load_s",
              "warm_up_s"):
        detail[k] = (setup[k], "s", 1)
    env.update(iterations=res["iterations"], wall_s=res["wall_s"])

    if tracer is not None:
        metrics = _layer_report(wl, res, setup, tracer, event_log, detail,
                                ref)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}

    print("env " + json.dumps(env, sort_keys=True))
    for name, (value, unit, n) in detail.items():
        print(f"metric {name} {value:.6g} {unit} n={n}")
    for e in errors[:20]:
        print(f"error {e}")
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    os.makedirs(RESULTS, exist_ok=True)
    path = _result_path(args, args.trace)
    with open(path, "w") as fh:
        json.dump({"env": env, "detail": detail, "errors": errors,
                   "result": result, "samples": samples}, fh)
    if tracer is not None:
        with open(path[:-len(".json")] + ".spans.json", "w") as fh:
            json.dump(tracer.spans, fh)
    return result


def _layer_report(wl, res, setup, tracer, event_log, detail, ref) -> dict:
    """Per-layer metrics from the traced operations.  The tracing
    overhead and the coverage of the layer spans are taken against the
    untraced reference run, operation by operation."""
    from tracing import PER_LAYER, layer_metrics, read_event_log

    samples = res["samples"]
    if [s[0] for s in samples] != [s[0] for s in ref["samples"]]:
        raise RuntimeError("the traced operations differ from those of "
                           "the untraced reference run")
    traced = sum(s[1] for s in samples)
    untraced = sum(s[1] for s in ref["samples"])
    fl = res["flushes"]
    extra = {
        "session.start_s": setup["session.start_s"],
        "engine.open_s": setup["engine.open_s"],
        "query_cache.hit_ratio": (wl.cache_hit_ratio()
                                  if hasattr(wl, "cache_hit_ratio") else 0.0),
        "store.segment_flushes": float(sum(not f["rewrite"] for f in fl)),
        "store.rewrite_flushes": float(sum(f["rewrite"] for f in fl)),
        "store.bytes_written": float(sum(f["bytes"] for f in fl)),
        "store.files_written": float(sum(f["files"] for f in fl)),
        "store.live_bytes": float(wl.live_bytes()
                                  if hasattr(wl, "live_bytes") else 0),
        "trace.overhead": traced / untraced - 1.0,
    }
    for k, vals in res["probes"].items():
        extra[k] = statistics.mean(vals)
    m = layer_metrics(tracer, read_event_log(event_log), extra)
    # layer self time of the traced operations against the untraced
    # latency of the same operations; the remainder is per operation
    attributed = m.pop("attributed_s")
    m["trace.coverage"] = attributed / untraced
    m["trace.unattributed_s"] = (untraced - attributed) / len(samples)
    for name in PER_LAYER:
        detail["layer " + name] = (m.get(name, 0.0), PER_LAYER[name],
                                   len(samples))
    return {name: {"value": float(m.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["read_mix", "ingest_mutate", "dedup_vector"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="data scale (0.1: lineitem 600k rows)")
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing is randomised per process, and with it the order
        # in which the engine walks its sets; fix it so every run of a
        # seed builds the same plans
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)
    if not os.path.isfile(os.path.join(ROOT, "tostore_spark", "__init__.py")):
        print(f"perfbench: no tostore_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
