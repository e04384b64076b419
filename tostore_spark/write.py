"""Write path: insert / batchInsert / update / delete / upsert + validation.

Reference surface:
- insert w/ PK generation + unique reservation   data_store_impl.dart:1527+
- batchInsert (allowPartialErrors)               data_store_impl.dart:3968+
- upsert / batchUpsert (by PK or unique index;
  rejected when no unique key exists)            data_store_impl.dart:2229+, 4739+
- update builder + allowUpdateAll guard          data_store_impl.dart:2342+,
                                                 chain/update_builder.dart:4-245
- delete + allowDeleteAll guard + FK hooks       data_store_impl.dart:3107+
- distributed ID generators                      model/id_generator.dart:31,256,312

Spark-first shape: every mutation is a *join-based rewrite* producing a new
DataFrame version of the table (copy-on-write, the Parquet analog of a Delta
MERGE).  Updates with Expr values are Column expressions inside that rewrite
— atomic per job, no read-modify-write row loops, scales with the join.
"""

from __future__ import annotations

import time
from typing import Any, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tostore_spark.compile import (condition_to_column, order_columns,
                                   parse_order_field)
from tostore_spark.condition import QueryCondition
from tostore_spark.expr import Expr
from tostore_spark.query import _Frame
from tostore_spark.schema import PrimaryKeyType, TableSchema
from tostore_spark.localdf import local_df
from tostore_spark.pin import pin

_B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"


def _b62(n: int) -> str:
    if n == 0:
        return _B62[0]
    out = []
    while n:
        n, r = divmod(n, 62)
        out.append(_B62[r])
    return "".join(reversed(out))


class _PkState:
    """Per-(engine, space, table) generator state (id_generator.dart);
    sequential IDs batch-reserve from the current max, timestamp IDs use a
    monotonic counter.  ``gen_seen`` tracks the table write generation the
    cached counter is valid for: any write this path didn't make itself
    (explicit-PK insert, restore, another space) forces a refresh from the
    table max instead of yielding colliding IDs."""

    def __init__(self):
        self.next_seq: Optional[int] = None
        self.counter = 0
        self.gen_seen: int = -1


_pk_states: dict[tuple[int, str, str], _PkState] = {}


def _pk_state(engine, table: str) -> _PkState:
    return _pk_states.setdefault((id(engine), engine.current_space, table),
                                 _PkState())


def _generate_pks(engine, table: str, schema: TableSchema, n: int) -> list[str]:
    pk = schema.primary_key
    st = _pk_state(engine, table)
    if pk.type == PrimaryKeyType.sequential:
        if st.next_seq is None or engine.generation(table) != st.gen_seen:
            cur = engine.df(table)
            if pk.name in cur.columns:
                row = cur.agg(F.max(F.col(pk.name).try_cast("long")).alias("m")).collect()[0]
                st.next_seq = max((row["m"] or 0) + pk.sequential_config.increment,
                                  pk.sequential_config.initial_value)
            else:
                st.next_seq = pk.sequential_config.initial_value
        out = []
        for _ in range(n):
            out.append(str(st.next_seq))
            st.next_seq += pk.sequential_config.increment
        return out
    now_ms = int(time.time() * 1000)
    if pk.type == PrimaryKeyType.timestampBased:
        out = []
        for _ in range(n):
            st.counter += 1
            out.append(str(now_ms * 1000 + st.counter % 1000))
        return out
    if pk.type == PrimaryKeyType.datePrefixed:
        day = time.strftime("%Y%m%d", time.gmtime())
        out = []
        for _ in range(n):
            st.counter += 1
            out.append(f"{day}{now_ms % 86400000:08d}{st.counter:04d}")
        return out
    if pk.type == PrimaryKeyType.shortCode:
        out = []
        for _ in range(n):
            st.counter += 1
            out.append(_b62(now_ms * 4096 + st.counter))
        return out
    raise ValueError(f"primary key type {pk.type} does not auto-generate")


def _validate(schema: TableSchema, rows: list[dict]) -> None:
    """Constraint checks Spark lacks natively: non-null, min/max length and
    value bounds (table_schema.dart:1177-1216)."""
    for row in rows:
        for f in schema.fields:
            v = row.get(f.name)
            if v is None:
                if not f.nullable and f.default_value is None \
                        and f.default_value_type.value == "none":
                    raise ValueError(f"field {f.name} is not nullable")
                continue
            if f.max_length is not None and isinstance(v, str) and len(v) > f.max_length:
                raise ValueError(f"{f.name}: length {len(v)} > max {f.max_length}")
            if f.min_length is not None and isinstance(v, str) and len(v) < f.min_length:
                raise ValueError(f"{f.name}: length {len(v)} < min {f.min_length}")
            if f.min_value is not None and isinstance(v, (int, float)) and v < f.min_value:
                raise ValueError(f"{f.name}: {v} < min {f.min_value}")
            if f.max_value is not None and isinstance(v, (int, float)) and v > f.max_value:
                raise ValueError(f"{f.name}: {v} > max {f.max_value}")


def _fill_defaults(engine, schema: TableSchema, rows: list[dict]) -> list[dict]:
    import datetime
    out = []
    for row in rows:
        r = dict(row)
        for f in schema.fields:
            if r.get(f.name) is None:
                if f.default_value_type.value == "currentTimestamp":
                    r[f.name] = datetime.datetime.now()
                elif f.default_value is not None:
                    r[f.name] = f.default_value
        out.append(r)
    return out


def _check_unique(engine, table: str, schema: TableSchema, new_df: DataFrame,
                  rows: list[dict] | None = None) -> None:
    """Unique enforcement = a validation anti-join before the write
    (reference reserves unique keys at insert, data_store_impl.dart:1592-1610).

    Cost shape (r17): the table-clash probe broadcasts the BATCH keys and
    semi-joins the table side — one action, no table-wide dropDuplicates
    shuffle (batches are driver-resident, so the broadcast is bounded by
    the batch); the in-batch duplicate check runs driver-side over the
    original ``rows`` list (zero Spark jobs) whenever the caller passes it
    and no key value is a float NaN (Python ``nan != nan`` would diverge
    from Spark's NaN-equal groupBy semantics — that rare shape keeps the
    old aggregate probe)."""
    import math

    cur = engine.df(table)
    for keyset in schema.unique_key_sets():
        if not all(k in new_df.columns and k in cur.columns for k in keyset):
            continue
        clash = cur.join(
            new_df.select(*keyset).dropDuplicates(list(keyset)),
            on=list(keyset), how="left_semi")
        if clash.take(1):
            raise ValueError(f"unique constraint violation on {keyset} in {table}")
        vals = ([tuple(r.get(k) for k in keyset) for r in rows]
                if rows is not None else None)

        def _py_safe(v) -> bool:
            # types whose Python ==/hash agree with Spark equality after
            # createDataFrame coercion; anything else (datetimes with
            # mixed tzinfo, NaN, Decimals vs floats) keeps the Spark probe
            if v is None or isinstance(v, (str, bool, int)):
                return True
            return isinstance(v, float) and not math.isnan(v)

        if vals is not None and all(_py_safe(v) for t in vals for v in t):
            seen: set = set()
            for t in vals:
                if t in seen:
                    raise ValueError(
                        f"duplicate keys {keyset} within inserted batch")
                seen.add(t)
        else:
            dup_new = (new_df.groupBy(*keyset).count().filter(F.col("count") > 1))
            if dup_new.take(1):
                raise ValueError(f"duplicate keys {keyset} within inserted batch")


class BatchResult:
    """Outcome of a partial-errors batch write (the reference's DbResult:
    successKeys + failedKeys, data_store_impl.dart:3968+)."""

    def __init__(self, success_keys: list, failed: dict):
        self.success_keys = success_keys
        #: row identifier (PK when known, else batch index) -> error message
        self.failed = failed

    @property
    def is_success(self) -> bool:
        return not self.failed

    def __repr__(self):
        return (f"BatchResult(ok={len(self.success_keys)}, "
                f"failed={len(self.failed)})")


def _unique_violations(engine, table: str, schema: TableSchema,
                       rows: list[dict]) -> dict[int, str]:
    """Per-row unique violations (existing-table clashes + in-batch dups),
    resolved driver-side: batch keys broadcast against the table, clashing
    tuples collected (batches are driver-resident lists, so the collect is
    bounded by the batch itself)."""
    bad: dict[int, str] = {}
    cur = engine.df(table)
    for keyset in schema.unique_key_sets():
        if not all(k in cur.columns for k in keyset):
            continue
        keyed = [(i, tuple(r.get(k) for k in keyset)) for i, r in enumerate(rows)
                 if all(r.get(k) is not None for k in keyset)]
        if not keyed:
            continue
        keydf = local_df(engine.spark, 
            [t for _, t in keyed], cur.select(*keyset).schema)
        clashes = {tuple(r) for r in cur.join(
            keydf.dropDuplicates(), on=list(keyset), how="left_semi")
            .select(*keyset).collect()}
        seen: set = set()
        for i, t in keyed:
            if i in bad:
                continue
            if t in clashes:
                bad[i] = f"unique constraint violation on {keyset}"
            elif t in seen:
                bad[i] = f"duplicate keys {keyset} within inserted batch"
            seen.add(t)
    return bad


def insert(engine, table: str, rows: list[dict],
           allow_partial_errors: bool = False) -> BatchResult:
    """Insert a batch.  With ``allow_partial_errors`` (the reference
    batchInsert default, data_store_impl.dart:3968+), good rows are
    accepted and bad rows come back in ``BatchResult.failed`` instead of
    failing the whole batch."""
    schema = engine.schema(table)
    rows = _fill_defaults(engine, schema, rows)

    def _rowkey(r: dict, i: int):
        if schema.primary_key and r.get(schema.primary_key.name) is not None:
            return r[schema.primary_key.name]
        return i

    failed: dict = {}
    if allow_partial_errors:
        kept: list[tuple[int, dict]] = []
        for i, r in enumerate(rows):
            try:
                _validate(schema, [r])
                kept.append((i, r))
            except ValueError as e:
                failed[_rowkey(r, i)] = str(e)
        bad = _unique_violations(engine, table, schema, [r for _, r in kept])
        for j, msg in bad.items():
            idx, r = kept[j]
            failed[_rowkey(r, idx)] = msg
        rows = [r for j, (_, r) in enumerate(kept) if j not in bad]
    else:
        _validate(schema, rows)
    if not rows:
        return BatchResult([], failed)
    if schema.primary_key is not None:
        pkname = schema.primary_key.name
        missing = [r for r in rows if r.get(pkname) is None]
        if missing:
            pks = _generate_pks(engine, table, schema, len(missing))
            for r, pk in zip(missing, pks):
                r[pkname] = pk
        for r in rows:
            r[pkname] = str(r[pkname])  # PKs are always strings
    cur = engine.df(table)
    new_df = local_df(engine.spark, 
        [tuple(r.get(c) for c in cur.columns) for r in rows], cur.schema)
    if not allow_partial_errors and (
            schema.primary_key is not None
            or any(ix.unique for ix in schema.all_indexes())):
        _check_unique(engine, table, schema, new_df, rows=rows)
    # inserts are provably append-only: hand the flush fast path the
    # exact appended rows so it can commit a delta segment instead of
    # rewriting the table (store.flush_tables)
    # the delta is a parallelized driver-resident batch — self-contained
    # lineage, no pin needed (set_df)
    engine.set_df(table, cur.unionByName(new_df), append_delta=new_df)
    if schema.primary_key is not None \
            and schema.primary_key.type == PrimaryKeyType.sequential:
        # keep the cached counter valid across our own write: advance it
        # past any explicit numeric PKs in this batch and stamp the new
        # generation so the next insert skips the refresh scan.
        st = _pk_state(engine, table)
        inc = schema.primary_key.sequential_config.increment
        for r in rows:
            try:
                v = int(r[schema.primary_key.name])
            except (TypeError, ValueError):
                continue
            if st.next_seq is None or v + inc > st.next_seq:
                st.next_seq = v + inc
        st.gen_seen = engine.generation(table)
    success = ([r[schema.primary_key.name] for r in rows]
               if schema.primary_key else list(range(len(rows))))
    return BatchResult(success, failed)


def _pin_touched(engine, table: str,
                 touched: DataFrame) -> Optional[DataFrame]:
    """A replace epoch's merged rows, pinned once so the flush delta
    survives later mutations of the frames it was derived from.  None
    (the caller then takes the rewrite path) when the pin raises, or
    when the epoch already lost its fast path and the pin would buy
    nothing."""
    if engine._epoch_poisoned(engine._resolve(table)):
        return None
    try:
        return pin(touched, eager=True)
    except Exception:
        return None


def upsert(engine, table: str, rows: list[dict],
           exprs: Optional[dict[str, Expr]] = None) -> None:
    """MERGE-equivalent: match on PK (or a unique index covering the payload),
    update matched rows, insert the rest.  The reference rejects upserts with
    no unique key to match on (data_store_impl.dart:2229+) — so do we."""
    schema = engine.schema(table)
    keyset = None
    for ks in schema.unique_key_sets():
        if all(all(k in r for k in ks) for r in rows):
            keyset = ks
            break
    if keyset is None:
        raise ValueError(f"upsert on {table} requires PK or unique-index fields")
    if schema.primary_key is not None and keyset == [schema.primary_key.name]:
        for r in rows:
            r[schema.primary_key.name] = str(r[schema.primary_key.name])
    # duplicate keys in the payload would fan out the merge join — collapse
    # them per field (last-write-wins = sequential-application semantics)
    merged_by_key: dict[tuple, dict] = {}
    for r in rows:
        merged_by_key.setdefault(tuple(str(r[k]) for k in keyset), {}).update(r)
    rows = list(merged_by_key.values())
    cur = engine.df(table)
    # per-row presence flags: in a heterogeneous batch, a matched row only
    # overwrites the fields IT carries — the reference routes matched
    # records through batchUpdate's partial-update path
    # (data_store_impl.dart:4851), not a batch-wide column set.
    payload_cols = [c for c in cur.columns if any(c in r for r in rows)]
    src_schema = T.StructType(
        [cur.schema[c] for c in cur.columns]
        + [T.StructField(f"__has_{c}", T.BooleanType(), False)
           for c in payload_cols])
    src = local_df(engine.spark, 
        [tuple([r.get(c) for c in cur.columns] + [c in r for c in payload_cols])
         for r in rows], src_schema)
    src = src.select(
        *[F.col(c).alias(f"__src_{c}") for c in cur.columns],
        *[F.col(f"__has_{c}") for c in payload_cols])
    on = [F.col(k) == F.col(f"__src_{k}") for k in keyset]
    cond = on[0]
    for extra in on[1:]:
        cond = cond & extra
    joined = cur.join(src, on=cond, how="full_outer")
    matched = F.col(keyset[0]).isNotNull() & F.col(f"__src_{keyset[0]}").isNotNull()
    is_update = matched

    def resolver(name: str):
        return F.col(name)

    out_cols = []
    for c in cur.columns:
        tgt, srcv = F.col(c), F.col(f"__src_{c}")
        if exprs and c in exprs:
            upd = exprs[c].to_column(resolver, is_update_col=is_update)
        elif c in payload_cols:
            upd = F.when(F.col(f"__has_{c}"), srcv).otherwise(tgt)
        else:
            upd = tgt
        merged = (F.when(matched, upd)
                   .when(F.col(f"__src_{keyset[0]}").isNotNull(),
                         exprs[c].to_column(resolver, is_update_col=is_update)
                         if exprs and c in exprs else srcv)
                   .otherwise(tgt))
        out_cols.append(merged.alias(c))
    out = joined.select(*out_cols)
    # merge-on-read replace epoch (store.flush_tables fast_replace):
    # K = the payload's key tuples, R = the src-side rows of THIS SAME
    # join (matched rows merged, unmatched inserted) — faithful by
    # construction, so the flush commits K + R instead of rewriting.
    # Null key values are unjoinable on both sides; fall back then.
    # engine.delete_vectors=False is the documented whole-path kill
    # switch (DeleteBuilder honors it); the replace-epoch fast path is
    # the same merge-on-read machinery, so it must honor it too.
    touched = None
    if (getattr(engine, "delete_vectors", True) and rows
            and not any(r.get(k) is None for r in rows for k in keyset)):
        touched = _pin_touched(
            engine, table,
            joined.filter(F.col(f"__src_{keyset[0]}").isNotNull())
            .select(*out_cols))
    if touched is not None:
        # the key frame derives from the driver-local payload: no pin
        keys_df = src.select(*[F.col(f"__src_{k}").alias(k)
                               for k in keyset]).dropDuplicates()
        engine.set_df(table, out, append_delta=touched,
                      delete_delta=keys_df)
    else:
        engine.set_df(table, out)


def batch_update(engine, table: str, rows: list[dict],
                 continue_on_partial_errors: bool = False) -> int:
    """Partial update per record carrying its PK (batchUpdate,
    data_store_impl.dart:4907+): join on PK, overwrite only the fields
    present in each payload row; rows with unknown PKs are ignored.
    Rows missing the PK raise — or are skipped under
    ``continue_on_partial_errors`` (data_store_impl.dart:2350).
    Returns the number of matched (updated) rows."""
    schema = engine.schema(table)
    if schema.primary_key is None:
        raise ValueError(f"batch_update on {table} requires a primary key")
    pk = schema.primary_key.name
    if any(pk not in r for r in rows):
        if not continue_on_partial_errors:
            raise ValueError("every batch_update row must carry the primary key")
        rows = [r for r in rows if pk in r]
    if not rows:
        return 0
    # deduplicate the payload by PK (last-write-wins, per field — the
    # sequential-application semantics): duplicate PKs would otherwise fan
    # out the join and duplicate target rows in the rewrite.
    merged_rows: dict[str, dict] = {}
    for r in rows:
        merged_rows.setdefault(str(r[pk]), {}).update(r)
    rows = list(merged_rows.values())
    cur = engine.df(table)
    payload_cols = [c for c in cur.columns
                    if c != pk and any(c in r for r in rows)]
    # presence flags: only fields present in THAT row overwrite
    vals = cur.select(F.col(pk).alias("__pk"),
                      *[F.col(c).alias(f"__new_{c}") for c in payload_cols])
    src_schema = T.StructType(vals.schema.fields + [
        T.StructField(f"__has_{c}", T.BooleanType(), False)
        for c in payload_cols])
    src = local_df(engine.spark,
        [tuple([str(r[pk])] + [r.get(c) for c in payload_cols]
               + [c in r for c in payload_cols]) for r in rows],
        src_schema)
    joined = cur.join(src, on=F.col(pk) == F.col("__pk"), how="left")
    n = (joined.filter(F.col("__pk").isNotNull()).count()
         if getattr(engine, "eager_mutation_counts", True) else -1)
    out_cols = []
    for c in cur.columns:
        if c in payload_cols:
            out_cols.append(
                F.when(F.col("__pk").isNotNull() & F.col(f"__has_{c}"),
                       F.col(f"__new_{c}")).otherwise(F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    # merge-on-read replace epoch: K = payload PKs (unmatched keys
    # anti-join nothing — harmless), R = the matched rows of this same
    # join with their updates applied — faithful by construction
    # (delete_vectors=False, the documented kill switch, turns the
    # whole merge-on-read path off — commit as a plain rewrite)
    touched = (_pin_touched(engine, table,
                            joined.filter(F.col("__pk").isNotNull())
                            .select(*out_cols))
               if getattr(engine, "delete_vectors", True) else None)
    if touched is not None:
        # the key frame derives from the driver-local payload: no pin
        keys_df = src.select(F.col("__pk").alias(pk)).dropDuplicates()
        engine.set_df(table, joined.select(*out_cols),
                      append_delta=touched, delete_delta=keys_df)
    else:
        engine.set_df(table, joined.select(*out_cols))
    return n


class _MutationBuilder:
    def __init__(self, engine, table: str):
        self._engine = engine
        self._table = table
        self._cond = QueryCondition()
        self._allow_all = False
        self._order_by: list[str] = []
        self._limit: Optional[int] = None
        self._offset: Optional[int] = None

    def where(self, field, op=None, value="__missing__"):
        self._cond.where(field, op, value)
        return self

    def or_where(self, field, op=None, value="__missing__"):
        self._cond.or_where(field, op, value)
        return self

    def condition(self, sub):
        self._cond.condition(sub)
        return self

    # ordered/limited mutations (update_builder.dart:237-239,
    # delete_builder.dart:32-33): "update/delete the N cheapest ..."
    def order_by_asc(self, *fields: str):
        self._order_by.extend(fields)
        return self

    def order_by_desc(self, *fields: str):
        self._order_by.extend(f"-{f}" for f in fields)
        return self

    def limit(self, n: int):
        self._limit = n
        return self

    def offset(self, n: int):
        self._offset = n
        return self

    def _predicate(self):
        df = self._engine.df(self._table)
        frame = _Frame(df, [(self._table, c, c) for c in df.columns])
        from tostore_spark.query import QueryBuilder
        qb = QueryBuilder(self._engine, self._table)
        node = qb._normalize_node(self._cond.root(), frame)
        return df, condition_to_column(node, frame.resolver())

    def _limited_predicate(self):
        """(df, pred, temp_cols): when orderBy/limit/offset are set, the
        predicate narrows to the selected window of matching rows.  Plan
        shape: TakeOrderedAndProject over the filtered scan picks the ≤N
        selected PKs, which broadcast back onto the table — no global
        row_number shuffle of the full table."""
        df, pred = self._predicate()
        if self._limit is None and not self._offset:
            return df, pred, []
        pk = self._engine.primary_key(self._table)
        if pk is None:
            raise ValueError("ordered/limited mutations require a primary key")
        fields = [parse_order_field(s) for s in self._order_by]
        if pk not in [f for f, _ in fields]:
            fields.append((pk, False))  # stable tie-break
        specs = [f"-{f}" if d else f for f, d in fields]
        frame = _Frame(df, [(self._table, c, c) for c in df.columns])
        ordered = df.filter(pred).orderBy(*order_columns(specs, frame.resolver()))
        if self._offset:
            ordered = ordered.offset(self._offset)
        if self._limit is not None:
            ordered = ordered.limit(self._limit)
        keys = ordered.select(F.col(pk).alias("__sel_pk"))
        marked = df.join(keys, on=F.col(pk) == F.col("__sel_pk"),
                         how="left")
        return marked, F.col("__sel_pk").isNotNull(), ["__sel_pk"]

    def _keyed_pk(self, df: DataFrame) -> Optional[str]:
        """The PK a mutation's epoch deltas key on, or None when the
        mutation must take the rewrite path: no PK, or
        ``engine.delete_vectors = False`` (the whole-path kill switch)."""
        pk = self._engine.primary_key(self._table)
        if (not getattr(self._engine, "delete_vectors", True)
                or pk is None or pk not in df.columns):
            return None
        return pk

    def _reads_pk_only(self, pk: str) -> bool:
        """Whether the condition reads the PK alone, with no order/limit
        window: rows sharing a PK then share the predicate's outcome, so
        no untouched row can share a matched PK."""
        if self._limit is not None or self._offset:
            return False
        names = (pk, f"{self._table}.{pk}")

        def pk_only(node) -> bool:
            if node.kind == "leaf":
                return node.field in names
            return all(pk_only(c) for c in node.children)
        return pk_only(self._cond.root())

    def _one_pass(self, df: DataFrame, pred: Column, touched: DataFrame,
                  pk: str):
        """Pin a PK-keyed mutation's touched rows once and probe them
        with ONE collect.  ``touched`` is ``df.filter(pred)`` (update
        adds ``__fail``, the unique-collision flag, and its new values):
        one eager pin holds it, and one collect returns the
        matched count, the failed count, the null-PK count among the
        applied rows, and how many survivors share an applied PK
        (survivors semi-joined with the broadcast applied keys; a
        condition on the PK alone needs no survivor scan, see
        ``_reads_pk_only``).  The epoch deltas derive from the pin, so
        ``set_df`` needs no other pin.

        Returns ``(applied_rows, n, n_failed, keyed)`` — ``applied_rows``
        are the pinned rows the mutation changes; ``keyed`` False vetoes
        the deletion vector (a null applied PK never anti-joins, a
        survivor sharing an applied PK would be over-deleted, an empty
        key set has nothing to commit: all take the rewrite path) — or
        None when the pass raised (the caller then falls back to the
        lazy rewrite path, which surfaces any real error)."""
        q = f"`{pk}`"
        try:
            pinned = pin(touched, eager=True)
            has_fail = "__fail" in pinned.columns
            fail = "__fail" if has_fail else "false"
            applied = f"coalesce(NOT {fail}, false)"
            survivors = (None if self._reads_pk_only(pk) else
                         df.filter(~F.coalesce(pred, F.lit(False)))
                         .select(pk))
            if has_fail:
                failed = pinned.filter(f"NOT {applied}").select(pk)
                survivors = (failed if survivors is None
                             else survivors.unionAll(failed))
            # one aggregate over the touched rows (tagged __t) and the
            # survivors sharing an applied PK: no limit or join exchange
            # (SQL text: one py4j call per projection, not per column)
            tagged = pinned.selectExpr("true AS __t", f"{fail} AS __f",
                                       f"{applied} AS __a",
                                       f"{q} IS NULL AS __null")
            if survivors is not None:
                tagged = tagged.unionAll(survivors.join(
                    pinned.filter(applied).select(pk),
                    on=[pk], how="left_semi")
                    .selectExpr(*["false"] * 4))
            row = (tagged.selectExpr("count_if(__t) AS n",
                               "count_if(__f) AS failed",
                               "count_if(__a) AS applied",
                               "count_if(__a AND __null) AS nulls",
                               "count_if(NOT __t) AS shared")
                   .collect()[0])
        except Exception:
            return None
        n, n_failed = int(row["n"]), int(row["failed"])
        keyed = (row["applied"] > 0 and not row["nulls"]
                 and not row["shared"])
        return pinned.filter(applied), n, n_failed, keyed


class UpdateBuilder(_MutationBuilder):
    """update(t).where(...).set({...}) — refuses a conditionless update
    without allow_update_all() (update_builder.dart:4-245).

    Two call styles, matching the reference's accumulate-then-await chain:
    ``set(values)`` merges pending data and executes immediately (terminal,
    returns matched count — Python has no implicit await point), while
    ``update(t, data).where(...).set_field(f, v).execute()`` accumulates
    and runs at the explicit terminal."""

    def __init__(self, engine, table: str, data: Optional[dict] = None):
        super().__init__(engine, table)
        self._pending: dict[str, Any] = dict(data or {})

    def allow_update_all(self):
        self._allow_all = True
        return self

    def continue_on_partial_errors(self):
        """With this flag an update that would collide on a unique field
        skips the colliding records and applies the rest
        (data_store_impl.dart:2750-2800 failedKeys semantics); without it
        any collision fails the whole update."""
        self._continue_partial = True
        return self

    def set_field(self, field: str, value: Any) -> "UpdateBuilder":
        """Accumulate one field (update_builder.dart:46-50); chainable."""
        self._pending[field] = value
        return self

    def execute(self) -> int:
        """Apply the accumulated update data (the await-point analog)."""
        if not self._pending:
            raise ValueError("no update data: use set()/set_field() first")
        values, self._pending = self._pending, {}
        return self.set(values)

    # sugar (update_builder.dart:63-209)
    def set(self, values: dict[str, Any]) -> int:
        """Returns the updated-row count (matched minus unique-skipped).

        A PK-keyed update (the table has a primary key the update does
        not change, ``engine.delete_vectors`` on) runs two Spark
        actions: one eager pin of the touched rows and ONE
        collect returning the matched, collision and null-PK counts and
        the duplicate-PK veto (``_one_pass``).  The flush commits the
        touched rows as a replace epoch, so the new table frame itself
        stays lazy.  An update matching no row changes nothing.

        Other updates take the rewrite path: one aggregate job counts
        matched + unique-collision rows, and runs only when a number is
        needed.  ``engine.eager_mutation_counts = False`` returns -1 on
        both paths; there it saves the count job, except for a STRICT
        update touching a declared-unique field, which must know the
        collision count to decide the raise (and so returns the real
        count).  ``continue_on_partial_errors()`` skips colliding rows
        lazily instead."""
        if self._cond.is_empty() and not self._allow_all:
            raise ValueError("conditionless update requires allow_update_all()")
        if self._pending:
            values = {**self._pending, **values}
            self._pending = {}
        df, pred, temp_cols = self._limited_predicate()
        eager = getattr(self._engine, "eager_mutation_counts", True)

        def resolver(name: str):
            return F.col(name)

        new_cols: dict[str, Column] = {}
        for fld, v in values.items():
            newv = v.to_column(resolver) if isinstance(v, Expr) else F.lit(v)
            if fld in df.columns:
                ftype = dict((f.name, f.dataType) for f in df.schema.fields)[fld]
                newv = newv.cast(ftype)
            new_cols[fld] = newv

        # unique-constraint enforcement (data_store_impl.dart:2440-2800):
        # a record whose new value for a declared-unique field collides
        # fails.  Without continue_on_partial_errors any failure aborts
        # the whole update; with it failing records are skipped and the
        # rest apply.  A record fails when its new value collides with
        #   (a) an untouched row's value or another updated row's new
        #       value (keeper per value: untouched first, lowest pk), or
        #   (b) the OLD value of a DIFFERENT updated row — that row may
        #       be skipped and retain its old value, so granting it would
        #       materialize a duplicate.  (b) is deliberately conservative
        #       (the value might in fact be vacated); the reference's
        #       sequential key reservation is order-dependent in the same
        #       situations, and conservatism never breaks the invariant.
        sch = self._engine.schema(self._table)
        uniq = [f.name for f in sch.fields if f.unique and f.name in new_cols]
        fail = F.lit(False)
        staged = df.withColumn("__upd", pred)
        if uniq:
            pk = self._engine.primary_key(self._table) or df.columns[0]
            for fld in uniq:
                staged = staged.withColumn(
                    f"__new_{fld}",
                    F.when(F.col("__upd"), new_cols[fld]).otherwise(F.col(fld)))
                w = (Window.partitionBy(F.col(f"__new_{fld}"))
                     .orderBy(F.col("__upd").asc(), F.col(pk).asc()))
                staged = staged.withColumn(f"__rn_{fld}",
                                           F.row_number().over(w))
                fail_a = (F.col("__upd")
                          & F.col(f"__new_{fld}").isNotNull()
                          & (F.col(f"__rn_{fld}") > 1))
                # (b): per old value of updated rows, how many updated
                # rows held it and the lowest such pk — a new value
                # matching one fails unless the value's only holder is
                # this very row (new == old, no-op on the field)
                olds = (staged.filter(F.col("__upd"))
                        .groupBy(F.col(fld).alias(f"__oldv_{fld}"))
                        .agg(F.count(F.lit(1)).alias(f"__oldn_{fld}"),
                             F.min(F.col(pk)).alias(f"__oldpk_{fld}")))
                staged = staged.join(
                    olds, staged[f"__new_{fld}"] == olds[f"__oldv_{fld}"],
                    "left")
                self_only = ((F.col(f"__oldn_{fld}") == 1)
                             & (F.col(f"__oldpk_{fld}") == F.col(pk))
                             & (F.col(fld) == F.col(f"__new_{fld}")))
                fail_b = (F.col("__upd")
                          & F.col(f"__oldv_{fld}").isNotNull()
                          & ~self_only)
                fail = fail | fail_a | fail_b
        staged = staged.withColumn("__fail", fail)
        strict = not getattr(self, "_continue_partial", False)
        # a count is returned to eager callers, and strict unique
        # enforcement needs n_failed to decide the raise
        counted = eager or bool(uniq and strict)
        # merge-on-read replace epoch: R = the applied rows with their
        # new values, K = their PKs, both from ONE pin of the touched
        # rows (_one_pass, which also vetoes unsound key sets).  A
        # PK-mutating update is never eligible (K must be the OLD
        # identity; new rows carry the new one).
        pk = self._keyed_pk(df)
        one = None
        cols = [c for c in df.columns if c not in temp_cols]
        if pk is not None and pk not in new_cols:
            touched = staged.filter(F.col("__upd")).select(
                *cols, "__fail",
                *[v.alias(f"__v_{f}") for f, v in new_cols.items()])
            one = self._one_pass(df, pred, touched, pk)
        n = n_failed = 0
        if one is not None:
            applied_rows, n, n_failed, keyed = one
        elif counted:
            # rewrite path: matched + collision counts in one job, run
            # only when someone needs a number (eager=False +
            # continue_on_partial_errors runs none: colliding rows are
            # skipped lazily by apply_c below)
            row = staged.agg(
                F.sum(F.col("__upd").cast("long")).alias("__n"),
                F.sum(F.col("__fail").cast("long")).alias("__nf")).collect()[0]
            n = int(row["__n"] or 0)
            n_failed = int(row["__nf"] or 0)
        if n_failed and strict:
            raise ValueError(
                f"update would violate unique constraint on "
                f"{uniq} for {n_failed} record(s); use "
                "continue_on_partial_errors() to skip them")
        if one is not None and n == 0:
            # zero matches: a no-op — the frame, its generation and the
            # epoch deltas stay as they are
            return 0 if counted else -1
        apply_c = F.col("__upd") & ~F.col("__fail")
        out = staged
        for fld, newv in new_cols.items():
            out = out.withColumn(fld,
                                 F.when(apply_c, newv).otherwise(F.col(fld)))
        drop = (["__upd", "__fail"] + temp_cols
                + [c for f in uniq
                   for c in (f"__new_{f}", f"__rn_{f}", f"__oldv_{f}",
                             f"__oldn_{f}", f"__oldpk_{f}")])
        out = out.drop(*drop)
        # a unique-checked rewrite carries a window + aggregate-join in its
        # lineage — weight it so the localCheckpoint barrier arrives sooner
        weight = 4 if uniq else 1
        if one is not None and keyed:
            self._engine.set_df(
                self._table, out, weight=weight,
                append_delta=applied_rows.select(
                    *[F.col(f"__v_{c}").alias(c) if c in new_cols
                      else F.col(c) for c in cols]),
                delete_delta=applied_rows.select(pk))
        else:
            self._engine.set_df(self._table, out, weight=weight)
        return n - n_failed if counted else -1

    def increment(self, field: str, by: Any = 1) -> int:
        return self.set({field: Expr.field(field) + by})

    def decrement(self, field: str, by: Any = 1) -> int:
        return self.set({field: Expr.field(field) - by})

    def multiply(self, field: str, by: Any) -> int:
        return self.set({field: Expr.field(field) * by})

    def divide(self, field: str, by: Any) -> int:
        return self.set({field: Expr.field(field) / by})

    def clamp(self, field: str, lo: Any, hi: Any) -> int:
        return self.set({field: Expr.min_of(Expr.max_of(Expr.field(field), lo), hi)})

    def set_server_timestamp(self, field: str) -> int:
        return self.set({field: Expr.now()})


class DeleteBuilder(_MutationBuilder):
    """delete(t).where(...).execute() with allow_delete_all() guard and FK
    cascade/restrict/setNull handling (foreign_key_manager.dart)."""

    def allow_delete_all(self):
        self._allow_all = True
        return self

    def execute(self) -> int:
        """Delete the matching rows; returns the deleted count (-1 under
        ``engine.eager_mutation_counts = False``).  A PK-keyed delete
        pins the doomed rows once and probes them in one job
        (``_one_pass``): the flush then commits their PKs as a deletion
        vector instead of rewriting the table.  A delete matching no
        row changes nothing."""
        if self._cond.is_empty() and not self._allow_all:
            raise ValueError("conditionless delete requires allow_delete_all()")
        df, pred, temp_cols = self._limited_predicate()
        eager = getattr(self._engine, "eager_mutation_counts", True)
        doomed = df.filter(pred).drop(*temp_cols)
        out = df.filter(~F.coalesce(pred, F.lit(False))).drop(*temp_cols)
        pk = self._keyed_pk(df)
        one = self._one_pass(df, pred, doomed, pk) if pk else None
        if one is None:
            n = doomed.count() if eager else -1
            self._cascade(doomed)
            self._engine.set_df(self._table, out)
            return n
        doomed, n, _failed, keyed = one
        if n:
            self._cascade(doomed)
            self._engine.set_df(
                self._table, out,
                delete_delta=doomed.select(pk) if keyed else None)
        return n if eager else -1

    def _cascade(self, doomed: DataFrame) -> None:
        from tostore_spark.schema import ForeignKeyAction
        for child in self._engine.table_names():
            try:
                csch = self._engine.schema(child)
            except KeyError:
                continue
            for fk in csch.foreign_keys:
                if fk.referenced_table != self._table:
                    continue
                cdf = self._engine.df(child)
                keys = doomed.select(*[F.col(rf).alias(f)
                                       for f, rf in zip(fk.fields, fk.referenced_fields)])
                hit = cdf.join(keys.dropDuplicates(), on=list(fk.fields),
                               how="left_semi")
                if fk.on_delete == ForeignKeyAction.restrict:
                    if hit.take(1):
                        raise ValueError(
                            f"delete restricted: {child} references {self._table}")
                elif fk.on_delete == ForeignKeyAction.cascade:
                    remaining = cdf.join(keys.dropDuplicates(),
                                         on=list(fk.fields), how="left_anti")
                    self._engine.set_df(child, remaining)
                elif fk.on_delete == ForeignKeyAction.setNull:
                    marked = cdf.join(keys.dropDuplicates()
                                      .withColumn("__hit", F.lit(1)),
                                      on=list(fk.fields), how="left")
                    out = marked
                    for f in fk.fields:
                        out = out.withColumn(
                            f, F.when(F.col("__hit") == 1, F.lit(None)).otherwise(F.col(f)))
                    self._engine.set_df(child, out.drop("__hit"))
