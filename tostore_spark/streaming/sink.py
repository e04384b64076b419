"""Streaming ingest INTO the engine: Structured Streaming micro-batches
merged into a registered table (and, with a warehouse, flushed durably).

The reference's write path is call-per-record into an embedded store; the
Spark-native ingest shape is ``readStream → foreachBatch → merge`` — each
micro-batch is one DataFrame-level upsert (PK anti-join + union), so the
per-batch cost is a bounded join against the current table, never a
driver-side row loop.  With ``flush_each_batch=True`` every committed
micro-batch is also flushed to the warehouse — combined with Structured
Streaming's checkpointing this gives at-least-once durable ingest, and
the engine's CAS flush turns concurrent-writer races into loud errors.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from tostore_spark.pin import pin


def merge_batch(engine, table: str, batch_df: DataFrame,
                mode: str = "upsert") -> int:
    """Merge one (micro-)batch into a registered table.

    ``upsert``: rows whose primary key already exists replace the stored
    row (PK left-anti join + union — one distributed merge, no row loop);
    ``append``: plain union.  The batch is pinned eagerly first: a
    foreachBatch frame is only valid during its call, while the
    registry needs a plan that outlives it."""
    return _merge_pinned(engine, table, pin(batch_df, eager=True), mode)


def _merge_pinned(engine, table: str, pinned: DataFrame,
                  mode: str) -> int:
    """``merge_batch`` over a frame that is already an eager pin."""
    n = pinned.count()
    if n == 0:
        return 0
    current = engine.df(table)
    if mode == "upsert":
        pk = engine.primary_key(table)
        if not pk:
            raise ValueError(f"upsert into {table} needs a primary key; "
                             "use mode='append'")
        kept = current.join(pinned.select(pk), on=pk, how="left_anti")
        if (sorted(pinned.columns) == sorted(current.columns)
                and getattr(engine, "delete_vectors", True)):
            # delete_vectors=False kills the whole merge-on-read path
            # (matches DeleteBuilder/upsert/batch_update) — fall through
            # to the plain rewrite below in that case
            # schema-complete upsert batches ride the flush REPLACE
            # fast path: (current ∖ batch-PKs) ∪ batch is exactly the
            # replace pair (K = batch PKs, R = batch rows) — streaming
            # upsert into a 100 TB table flushes the batch's rows, not
            # the table.  Same type-cast discipline as append mode.
            from tostore_spark.engine import _cast_to_table_schema
            conformed = _cast_to_table_schema(pinned, current.schema)
            merged = kept.unionByName(conformed)
            engine.set_df(table, merged, append_delta=conformed,
                          delete_delta=conformed.select(pk))
            return n
        merged = kept.unionByName(pinned, allowMissingColumns=True)
    elif mode == "append":
        if sorted(pinned.columns) == sorted(current.columns):
            # schema-complete appends ride the flush segment fast path:
            # each flushed micro-batch commits a delta segment instead
            # of rewriting the table — streaming ingest into a 100 TB
            # table costs the batch's IO, not the table's.  The delta is
            # cast to the stored TYPES first: a type-divergent segment
            # would break the multi-root read-back only after the
            # manifest commit (engine._cast_to_table_schema docstring)
            from tostore_spark.engine import _cast_to_table_schema
            conformed = _cast_to_table_schema(pinned, current.schema)
            merged = current.unionByName(conformed)
            engine.set_df(table, merged, append_delta=conformed)
            return n
        merged = current.unionByName(pinned, allowMissingColumns=True)
    else:
        raise ValueError(f"unknown merge mode: {mode}")
    engine.set_df(table, merged)
    return n


def _ledger_key(table: str, query_name: Optional[str]) -> str:
    return f"__stream_ledger__:{table}:{query_name or 'default'}"


def exactly_once_processor(engine, table: str, mode: str = "upsert",
                           query_name: Optional[str] = None):
    """foreachBatch processor with EXACTLY-ONCE batch commits.

    The trick is that the engine's KV namespace is serialized INSIDE the
    warehouse manifest (store.py), so recording the committed batch id
    in KV and then calling ``flush()`` lands the batch's DATA and the
    LEDGER ENTRY in one atomic manifest CAS — they can never diverge.
    On restart Structured Streaming replays the last un-checkpointed
    batch (at-least-once at the framework level); the processor consults
    the ledger first and SKIPS any ``batch_id <= last committed``, so a
    replayed batch merges zero rows even in ``mode='append'`` (where PK
    idempotence can't save you).  This is the same sink-side
    transactional-ledger design Delta's ``txnAppId``/``txnVersion``
    dedup uses — expressed through the store's own KV + CAS machinery.

    Semantics by configuration:
    - warehouse-backed engine: exactly-once across crashes/restarts
      (ledger + data are durable together).
    - memory-mode engine: exactly-once within the session (ledger
      consulted, nothing durable — duplicates can't survive a restart
      anyway because the data doesn't either).

    A ``ConcurrentWriteError`` from the flush fails the batch loud with
    data AND ledger together still un-durable (they only ever become
    durable in the same CAS), so a restart from the manifest replays
    the batch against the refreshed state — never a silent half-commit.
    Within the failed engine object the merged table stays dirty and
    the ledger entry stays pending, so a later successful flush still
    commits them together.  Exposed as a factory so crash-replay is
    directly testable (call the processor twice with the same
    batch_id).

    SCOPE: the ledger is per (table, query).  One streaming job feeding
    TWO tables through two of these processors commits them in two
    separate manifest CASes — a crash between them leaves one table's
    batch committed and the other's not (each side still individually
    exactly-once; the replay skips the committed one and lands the
    other).  When the two sinks must land in the SAME atomic commit,
    use ``exactly_once_multi_processor`` — one ledger entry + N merges
    + ONE flush.
    """
    key = _ledger_key(table, query_name)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        last = engine.get_value(key)
        if last is not None and int(batch_id) <= int(last):
            return                      # durably committed already
        merged = merge_batch(engine, table, batch_df, mode=mode)
        engine.set_value(key, int(batch_id))
        if getattr(engine, "_warehouse", None):
            engine.flush()              # data + ledger: ONE manifest CAS
        return merged

    return _process


def exactly_once_multi_processor(engine, sinks: list,
                                 query_name: Optional[str] = None):
    """foreachBatch processor committing ONE micro-batch into SEVERAL
    tables ATOMICALLY with exactly-once semantics — the multi-table
    contract ``exactly_once_processor`` cannot give (its per-table
    ledgers commit in separate manifest CASes; see its docstring).

    ``sinks``: list of ``{"table": name, "mode": "upsert"|"append",
    "transform": callable|None}`` — each sink merges
    ``transform(batch_df)`` (or the batch verbatim) into its table.
    ONE group ledger entry covers the whole sink list, and the store's
    flush stages every dirty table into a SINGLE manifest CAS, so all
    N tables and the ledger become durable together or not at all:
    there is no crash window in which one sink's batch is committed
    and another's replays.  A replayed batch (restart, retry) consults
    the group ledger first and merges zero rows into every sink.

    The one-CAS atomicity is exactly the property the engine's flush
    already has for multi-table transactions (store.flush_tables
    phase 3 writes one manifest covering all staged tables) — this
    factory just routes the streaming ledger through it."""
    if not sinks:
        raise ValueError("exactly_once_multi_processor needs >= 1 sink")
    tables = "+".join(s["table"] for s in sinks)
    key = _ledger_key(tables, query_name)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        last = engine.get_value(key)
        if last is not None and int(batch_id) <= int(last):
            return                      # durably committed already
        pinned = pin(batch_df, eager=True)
        merged = 0
        for s in sinks:
            t = s.get("transform")
            # an identity sink merges the batch pin itself
            frame = pin(t(pinned), eager=True) if t else pinned
            merged += _merge_pinned(engine, s["table"], frame,
                                    s.get("mode", "upsert"))
        engine.set_value(key, int(batch_id))
        if getattr(engine, "_warehouse", None):
            engine.flush()              # N tables + ledger: ONE CAS
        return merged

    return _process


def neardup_ingest_processor(engine, table: str, index_table: str,
                             text_field: str = "text",
                             id_field: str = "doc_id",
                             num_hashes: int = 16, bands: int = 4,
                             shingle_k: int = 5,
                             query_name: Optional[str] = None,
                             exactly_once: bool = True):
    """foreachBatch factory: near-dup-FILTERED corpus ingest that
    maintains the data table AND its MinHash-LSH band index together —
    the streaming composition of ``minhash_band_index`` /
    ``minhash_lsh_pairs_incremental`` with the exactly-once multi-sink
    commit.  The 100 TB ingest loop: each arriving dump is filtered
    against the corpus WITHOUT rescanning corpus text (only its stored
    (id, band) index), and the index grows by exactly the survivors.

    Per micro-batch:
    1. the batch's (id, band) index is computed (one aggregate over the
       BATCH; ``minhash_band_index``);
    2. a batch doc DROPS when any of its bands collides with the
       persisted ``index_table`` (the incremental LSH candidate
       semantics), or with a SMALLER-id doc of the same batch (the
       band-minimum keep-first rule: b drops iff some a < b shares a
       band — equal to dropping id_b of every within-batch candidate
       pair; on candidate CHAINS a~b~c this may drop c even though b
       already dropped — conservative, never under-drops, and cheaper
       than per-batch connected components);
    3. survivors append to ``table``, their bands to ``index_table``,
       and (``exactly_once``) ONE group ledger entry commits with BOTH
       in a single manifest CAS — a replayed batch short-circuits
       before any filtering, so it can neither re-append nor
       self-collide with its own previously committed bands.

    LSH-candidate granularity: collisions are CANDIDATE pairs (the
    band trade — same recall/false-positive surface as
    ``minhash_lsh_pairs``); run an exact-verify variant downstream when
    band false positives matter.  Pair with ``dedup_stream`` upstream
    for byte-exact in-stream duplicates."""
    from pyspark.sql import functions as F

    from tostore_spark.llmops.dedup import minhash_band_index
    key = _ledger_key(f"{table}+{index_table}", query_name)

    def _process(batch_df: DataFrame, batch_id: int):
        last = engine.get_value(key)
        if (exactly_once and last is not None
                and int(batch_id) <= int(last)):
            return 0                    # durably committed already
        pinned = pin(batch_df, eager=True)
        if pinned.isEmpty():
            return 0
        new_idx = pin(minhash_band_index(
            pinned, text_field=text_field, id_field=id_field,
            num_hashes=num_hashes, bands=bands,
            shingle_k=shingle_k), eager=True)
        corpus_idx = engine.df(index_table)
        vs_corpus = (new_idx.join(
            corpus_idx.select(F.col("band").alias("band")),
            on="band", how="semi").select("id"))
        a, b = new_idx.alias("a"), new_idx.alias("b")
        vs_smaller = (a.join(b, (F.col("a.band") == F.col("b.band"))
                             & (F.col("b.id") < F.col("a.id")), "semi")
                       .select("id"))
        drop_ids = pin(vs_corpus.unionByName(vs_smaller).distinct(),
                       eager=True)
        survivors = pinned.join(
            drop_ids.withColumnRenamed("id", id_field),
            on=id_field, how="left_anti")
        surv_idx = new_idx.join(drop_ids, on="id", how="left_anti")
        n = merge_batch(engine, table, survivors, mode="append")
        merge_batch(engine, index_table, surv_idx, mode="append")
        engine.set_value(key, int(batch_id))
        if getattr(engine, "_warehouse", None):
            engine.flush()              # table + index + ledger: ONE CAS
        return n

    return _process


def write_stream_to_table(engine, stream_df: DataFrame, table: str,
                          checkpoint: str, mode: str = "upsert",
                          flush_each_batch: bool = False,
                          exactly_once: bool = False,
                          query_name: Optional[str] = None):
    """Start a streaming query that merges every micro-batch into
    ``table``.  Returns the StreamingQuery handle (caller stops it or
    uses ``trigger(availableNow=True)`` semantics via the returned
    writer's options upstream).

    Durability ladder:
    - default: in-session merge only (at-least-once, PK upsert makes
      replay idempotent for ``mode='upsert'``);
    - ``flush_each_batch=True`` + warehouse: each batch durable
      (at-least-once across restarts);
    - ``exactly_once=True``: per-batch ledger committed atomically with
      the data in one manifest CAS (``exactly_once_processor``) — safe
      even for ``mode='append'``, where replay is otherwise visible."""
    if exactly_once:
        _process = exactly_once_processor(engine, table, mode=mode,
                                          query_name=query_name)
    else:
        def _process(batch_df: DataFrame, batch_id: int) -> None:
            merge_batch(engine, table, batch_df, mode=mode)
            if flush_each_batch and getattr(engine, "_warehouse", None):
                engine.flush()

    writer = (stream_df.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint))
    if query_name:
        writer = writer.queryName(query_name)
    return writer.trigger(availableNow=True).start()


def write_stream_to_mv(engine, stream_df: DataFrame, mv_table: str,
                       keys: list[str], sums: list[str],
                       checkpoint: str, op_field: Optional[str] = None,
                       query_name: Optional[str] = None):
    """Maintain an algebraic aggregate MV continuously from a stream —
    the streaming form of ``plans/mv``: each micro-batch is
    partial-aggregated (map-side, batch-sized) and folded into the
    registered MV table with ``mv_merge``; the raw stream is never
    retained and the base is never rescanned.

    ``op_field`` names an optional CDC column holding +1 (insert) / -1
    (delete): retractions fold in exactly (DECIMAL partials), so an
    upstream change-feed maintains the MV under deletes too.  Groups
    whose count reaches 0 vanish.

    The MV table is registered on the first batch if absent.  State
    lives in the MV itself (engine table + optional warehouse flush via
    a wrapping foreachBatch), NOT in the streaming state store — no
    watermark needed, unbounded keys bounded by |distinct keys|.
    Restart note: Structured Streaming replays the last uncommitted
    batch after a crash, and a replayed fold double-counts — pair with
    ``flush``-per-batch plus manifest versioning (or idempotent batch
    ids) when exactly-once matters; the availableNow backfill form used
    in tests commits each batch before the next.
    """
    from pyspark.sql import functions as F

    from tostore_spark.plans.mv import mv_delta, mv_merge

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        pinned = pin(batch_df, eager=True)
        if pinned.isEmpty():
            return
        deltas = []
        if op_field:
            ins = pinned.filter(F.col(op_field) > 0).drop(op_field)
            dele = pinned.filter(F.col(op_field) < 0).drop(op_field)
            if not ins.isEmpty():
                deltas.append(mv_delta(ins, keys, sums, sign=1))
            if not dele.isEmpty():
                deltas.append(mv_delta(dele, keys, sums, sign=-1))
        else:
            deltas.append(mv_delta(pinned, keys, sums, sign=1))
        if not deltas:
            return
        if engine.table_exists(mv_table):
            merged = mv_merge(engine.df(mv_table), *deltas, keys=keys)
        elif len(deltas) == 1:
            merged = deltas[0].filter(F.col("n") != 0)
        else:
            merged = mv_merge(deltas[0], *deltas[1:], keys=keys)
        # pin: the MV is |distinct keys| rows and must outlive the batch
        pinned_mv = pin(merged, eager=True)
        if engine.table_exists(mv_table):
            engine.set_df(mv_table, pinned_mv)
        else:
            engine.register_table(mv_table, df=pinned_mv)

    writer = (stream_df.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint))
    if query_name:
        writer = writer.queryName(query_name)
    return writer.trigger(availableNow=True).start()
