"""Transactions: atomic multi-write scopes with rollback.

Reference: ``db.transaction(action, {rollbackOnError, isolation})`` with
readCommitted / serializable(SSI) isolation (lib/tostore.dart:860-868;
transaction_manager.dart:17-50).

Spark-first: every table version is an immutable DataFrame (copy-on-write),
so a transaction is a snapshot of the table map — writes inside the scope
build new versions; on success they become current, on error the snapshot is
restored.  This gives atomicity + snapshot isolation for the single-writer
embedded shape the reference serves.  True multi-writer ACID at warehouse
scale is a table-format concern (Delta/Iceberg commit protocols), out of
scope per SURVEY.md §2.12.
"""

from __future__ import annotations

from contextlib import contextmanager


class TransactionResult:
    def __init__(self, success: bool, error: Exception | None = None):
        self.success = success
        self.error = error


@contextmanager
def transaction(engine, rollback_on_error: bool = True):
    """``with transaction(db): ...`` — atomic scope over engine writes."""
    snapshot = {k: dict(v) for k, v in engine._tables.items()}
    # append-delta map rolls back too: a rolled-back insert's pinned
    # delta would otherwise survive and the next flush's fast path
    # would commit the rolled-back rows as a durable append segment
    adeltas_snap = dict(engine._append_deltas)
    ddeltas_snap = dict(engine._delete_deltas)
    kv_snap = engine._kv.snapshot() if hasattr(engine, "_kv") else None
    try:
        yield engine
    except Exception:
        if rollback_on_error:
            engine._tables = snapshot
            engine._adeltas = adeltas_snap
            engine._ddeltas = ddeltas_snap
            if hasattr(engine, "_kv"):
                # kv created INSIDE the scope rolls back to empty
                engine._kv.restore(kv_snap if kv_snap is not None else {})
            if hasattr(engine, "_query_cache") and engine._query_cache:
                engine._query_cache.clear()
        raise


def run_transaction(engine, action, rollback_on_error: bool = True) -> TransactionResult:
    """Callback form matching the reference API: returns a result object
    instead of raising (tostore.dart:860-868)."""
    try:
        with transaction(engine, rollback_on_error=rollback_on_error):
            action(engine)
        return TransactionResult(True)
    except Exception as e:  # noqa: BLE001 - result-object API
        return TransactionResult(False, e)


def run_transaction_with_retry(engine, action, retries: int = 3,
                               rollback_on_error: bool = True,
                               isolation: str = "snapshot"
                               ) -> TransactionResult:
    """Optimistic concurrent transaction (the SSI-loser-retries shape of
    the reference's transaction manager, transaction_manager.dart:17-50,
    in batch form): run ``action``, flush to commit; when the flush loses
    a concurrent-writer race (``ConcurrentWriteError``), roll the local
    state back to the pre-transaction snapshot, fold in the winner's
    committed state (``engine.refresh()`` — clean after rollback, so no
    replay conflict is possible), and re-run ``action`` against the fresh
    snapshot, up to ``retries`` times.  Exhausting the retries returns
    ``TransactionResult(False, ConcurrentWriteError)`` — the same
    result-object contract as every other failure path.  The action must
    be a pure function of engine state (it re-executes on retry).

    With the store's per-table CAS, retries only happen on a genuine
    same-table race — two transactions touching disjoint tables both
    commit on their first flush (the loser-merges path in
    ``store.flush_tables``).

    ``isolation='serializable'`` adds SSI-lite read-set validation (the
    reference's serializable isolation mode, transaction_manager.dart:
    17-50, reduced to manifest-versioned tables): every table the
    action READS is recorded at the (table, manifest-version) the
    engine held, and the commit aborts with ``WriteSkewError`` (naming
    the table, read version, and committed version) when any read
    table was overwritten by a concurrent commit — the write-skew
    anomaly the default ``'snapshot'`` mode admits (T1 reads A writes
    B, T2 reads B writes A: both commit under snapshot isolation, the
    later committer aborts under serializable).  Granularity: reads
    issued through the query builder record their normalized FILTER,
    and a version mismatch re-validates at row level — the commit
    proceeds when no row of the two-version diff matches any recorded
    predicate (``store._read_unchanged``), so a row-disjoint
    concurrent write no longer aborts the reader; raw ``df()`` frame
    reads still demand whole-table stability.  Either way the check
    only ever FALSE-POSITIVES (never admits a non-serializable
    schedule); an abort retries like any other concurrency loss, so
    the serial outcome wins after a refresh.  Scope: the read-set
    covers TABLE reads — compiled queries, query-cache hits, raw
    frames, and the sql() escape hatch all record; KV reads are
    outside it (KV cross-engine conflicts surface at the flush's KV
    merge instead).

    Requires a warehouse (the flush is the commit point).  Raises
    ``ValueError`` without one rather than silently downgrading to a
    non-durable scope."""
    from tostore_spark.store import ConcurrentWriteError

    if not engine._warehouse:
        raise ValueError(
            "run_transaction_with_retry commits via flush and needs a "
            "warehouse; use transaction()/run_transaction for in-memory "
            "scopes")
    if isolation not in ("snapshot", "serializable"):
        raise ValueError(
            f"isolation must be 'snapshot'|'serializable', "
            f"got {isolation!r}")
    attempt = 0
    while True:
        snapshot = {k: dict(v) for k, v in engine._tables.items()}
        gen_snap = dict(engine._generations)
        fgen_snap = dict(engine._flushed_gen)
        adeltas_snap = dict(engine._append_deltas)
        ddeltas_snap = dict(engine._delete_deltas)
        kv_snap = engine._kv.snapshot() if hasattr(engine, "_kv") else None

        def _rollback():
            engine._tables = snapshot
            # _generations is a property over _gen: restore in place
            engine._generations.clear()
            engine._generations.update(gen_snap)
            engine._flushed_gen = fgen_snap
            # restore the append-delta map: (a) an aborted attempt's
            # delta must not flush as a phantom segment, and (b) a
            # retry re-running the action must not union its fresh
            # delta onto the aborted attempt's (double-committed rows)
            engine._adeltas = dict(adeltas_snap)
            engine._ddeltas = dict(ddeltas_snap)
            if hasattr(engine, "_kv"):
                # kv created INSIDE the action rolls back to empty —
                # otherwise its writes re-apply on every retry
                engine._kv.restore(kv_snap if kv_snap is not None else {})
            if getattr(engine, "_query_cache", None):
                engine._query_cache.clear()

        if isolation == "serializable":
            # fresh read-set per attempt: a retry reads the refreshed
            # snapshot, so its recorded versions (and the predicate
            # granularity map that refines them) must restart clean
            engine._txn_read_versions = {}
            engine._txn_rpreds = {}
        try:
            action(engine)
            engine.flush()
            return TransactionResult(True)
        except ConcurrentWriteError as e:   # incl. WriteSkewError
            _rollback()
            attempt += 1
            if attempt > retries:
                # exhaustion follows the same result-object contract as
                # every other failure path (no raise): callers check
                # result.success / result.error uniformly
                return TransactionResult(False, e)
            engine.refresh()   # clean post-rollback: pure reload, no replay
        except Exception as e:  # noqa: BLE001 - result-object API
            if rollback_on_error:
                _rollback()
            return TransactionResult(False, e)
        finally:
            engine._txn_read_versions = None
            engine._txn_rpreds = {}
