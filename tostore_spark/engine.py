"""ToStoreSpark: the engine facade (the reference's ``ToStore`` class).

Reference surface:
- open/close, query/insert/update/delete/upsert entry points
                              lib/tostore.dart:372-700
- spaces (isolated namespaces + global tables)
                              lib/tostore.dart:529-532;
                              lib/src/core/data_store_impl.dart:5873-5936
- memory mode                 lib/tostore.dart:197-240
- KV namespace                lib/tostore.dart:706-803
- vectorSearch                lib/tostore.dart:493-511

Tables are DataFrames registered from Parquet (or created via TableSchema →
managed Parquet directories under a warehouse for the write path).  A
"space" is a namespace prefix; global tables are visible from every space
(isGlobal, table_schema.dart:37).
"""

from __future__ import annotations

import base64
import os
from typing import Callable, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession

from tostore_spark.at_rest import encrypted_spec, to_stored, to_visible
from tostore_spark.fs import local_path
from tostore_spark.query import QueryBuilder
from tostore_spark.schema import TableSchema
from tostore_spark.localdf import local_df
from tostore_spark.pin import pin
from tostore_spark.ttl import ttl_active


def _decode_bloom(raw: dict) -> dict:
    """``_bloom.json`` as written by the flush, bitmaps base64-decoded."""
    return {"m": int(raw["m"]), "k": int(raw["k"]), "h": raw.get("h"),
            "cols": {c: base64.b64decode(b)
                     for c, b in raw["cols"].items()},
            "files": {rel: {c: base64.b64decode(b) for c, b in fm.items()}
                      for rel, fm in (raw.get("files") or {}).items()}}


#: mutations between the lineage-cutting pins
#: (``ToStoreSpark._maybe_compact``)
_COMPACT_EVERY = 32


def _cast_to_table_schema(df: DataFrame, schema) -> DataFrame:
    """Cast ``df``'s columns to a table's stored types where they differ.

    Append-fast-path guard: a delta segment written with a divergent
    parquet physical type (int vs bigint, …) poisons the table's
    multi-root segment read — and only at scan time, after the manifest
    commit.  Casting up front keeps every segment read-compatible and
    surfaces impossible casts at append time instead."""
    from pyspark.sql import functions as F

    stored = {f.name: f.dataType for f in schema.fields}
    if all(df.schema[c].dataType == stored[c]
           for c in df.columns if c in stored):
        return df
    return df.select(*[
        F.col(c).cast(stored[c]).alias(c) if c in stored
        and df.schema[c].dataType != stored[c] else F.col(c)
        for c in df.columns])


class _Feed(NamedTuple):
    """The facts of one format's change feed that
    ``ToStoreSpark._subscribe`` reads; everything else is shared."""

    prefix: str         # KV cursor-key prefix
    #: the cursor names the last applied commit; Delta's next pull
    #: starts at cursor + 1 (inclusive, ordered versions), Iceberg's
    #: after the cursor (exclusive ``from_snapshot``; ids are unordered,
    #: so caught up means frm == to)
    inclusive: bool
    #: report keys (range start, range end); the start also names the
    #: seed parameter
    keys: tuple
    head: int           # the current commit
    origin: Callable    # to -> first commit a bootstrap up to ``to`` covers
    snapshot: Callable  # (to, explicit, where) -> the table at ``to``
    changes: Callable   # (frm, to, where) -> the change rows after frm


def _delta_feed(spark, p: str) -> _Feed:
    from tostore_spark.plans.delta_export import read_delta, read_delta_cdf
    log_dir = os.path.join(p, "_delta_log")
    versions = sorted(int(f[:-5]) for f in os.listdir(log_dir)
                      if f.endswith(".json") and f[:-5].isdigit())
    if not versions:
        raise FileNotFoundError(f"no delta commits under {p}")
    return _Feed(
        prefix="__cdf_cursor__", inclusive=True,
        keys=("from_version", "to_version"),
        head=versions[-1], origin=lambda to: versions[0],
        snapshot=lambda to, explicit, where: read_delta(
            spark, p, version=to, where=where),
        changes=lambda frm, to, where: read_delta_cdf(
            spark, p, frm, to, where=where))


def _iceberg_feed(spark, p: str) -> _Feed:
    from tostore_spark.plans.iceberg import (_load_metadata, read_iceberg,
                                             read_iceberg_changes)
    meta = _load_metadata(p)
    cur = meta.get("current-snapshot-id")
    if cur is None:
        raise ValueError(f"{p} has no current snapshot")
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}

    def origin(to):
        # a bootstrap folds everything from the ancestry ROOT up to to
        frm, node = to, snaps.get(to)
        while node is not None:
            frm = node["snapshot-id"]
            node = snaps.get(node.get("parent-snapshot-id"))
        return frm

    # snapshot_id=None for a current-head read binds the CURRENT
    # schema, so a metadata-only rename after the last snapshot
    # surfaces (an explicit to_snapshot keeps that snapshot's schema)
    return _Feed(
        prefix="__ice_cdf_cursor__", inclusive=False,
        keys=("from_snapshot", "to_snapshot"),
        head=int(cur), origin=origin,
        snapshot=lambda to, explicit, where: read_iceberg(
            spark, p, snapshot_id=to if explicit else None, where=where),
        changes=lambda frm, to, where: read_iceberg_changes(
            spark, p, from_snapshot=frm, to_snapshot=to, where=where))


class DbResult:
    """Graceful-error result for admin operations (the reference returns a
    DbResult instead of raising for business-logic errors, tostore.dart:1134+)."""

    def __init__(self, success: bool, message: str = ""):
        self.success = success
        self.message = message

    def __bool__(self) -> bool:
        return self.success

    def __repr__(self):
        return f"DbResult(success={self.success}, message={self.message!r})"


class ToStoreSpark:
    def __init__(self, spark: SparkSession, data_dir: Optional[str] = None,
                 warehouse: Optional[str] = None, space: str = "default",
                 default_query_limit: int = 1000,
                 max_query_offset: int = 10000,
                 encryption=None):
        self.spark = spark
        self._space = space
        self._warehouse = warehouse
        #: at-rest EncryptionConfig (tostore_spark.at_rest): fields
        #: marked encrypted=True in their TableSchema are ciphertext
        #: everywhere between the engine read/write boundaries —
        #: flushed segments, deltas, versions, backups
        self.encryption = encryption
        #: cap applied to run() when no explicit limit is given; <=0 makes
        #: unbounded run() raise (data_store_config.dart:68-75 semantics,
        #: defaults 1000/10000).  .df() is exempt — it returns a lazy,
        #: distributed plan, not a driver collect.
        self.default_query_limit = default_query_limit
        #: hard cap for offset paging; <=0 disables (deep offsets should be
        #: keyset cursors instead)
        self.max_query_offset = max_query_offset
        #: set False to skip the matched-count job in update/delete/batch
        #: builders (they then return -1)
        self.eager_mutation_counts = True
        self._data_dir = data_dir
        # (space, name) -> {"df": DataFrame|None, "path": str|None,
        #                   "schema": TableSchema, "global": bool}
        self._tables: dict[tuple[str, str], dict] = {}
        #: (space, name) -> generation of the last flush (or load);
        #: equal to the in-memory generation means clean (``_is_clean``)
        self._flushed_gen: dict[tuple[str, str], int] = {}
        #: (space, table, version) dirs handed out by time travel,
        #: CDC and snapshots — vacuum keeps them until unpinned
        self._pinned_versions: set[tuple[str, str, int]] = set()
        #: ("delta" | "iceberg", (space, name)) -> mirror config; every
        #: flush of the table runs ``_mirror_flush`` on it
        self._mirrors: dict[tuple[str, tuple[str, str]], dict] = {}
        #: (kind, (space, name), local path) -> (stop event, thread) of
        #: each changelog sync daemon
        self._syncs: dict = {}
        #: (table, message) of the last failed mirror export / sync poll
        self.last_mirror_error = None
        self.last_cdf_sync_error = None
        self.last_iceberg_sync_error = None
        if data_dir:
            self.register_dir(data_dir)
        # durable store: overlay the last flushed state (versioned parquet
        # + manifest under `warehouse`) on top of the data_dir sources —
        # the WAL-recovery analog (wal_manager.dart durability intent)
        if warehouse:
            # fail LOUDLY at open when the warehouse holds encrypted
            # data and the key is missing/wrong — never surface garbage
            from tostore_spark.at_rest import verify_key_check
            verify_key_check(warehouse,
                             encryption.key if encryption else None)
            from tostore_spark import store as _store
            _store.load_warehouse(self)

    # ---- registry -----------------------------------------------------
    def register_dir(self, data_dir: str, is_global: bool = False) -> None:
        for fn in sorted(os.listdir(data_dir)):
            if fn.endswith(".parquet"):
                self.register_table(fn[: -len(".parquet")],
                                    path=os.path.join(data_dir, fn),
                                    is_global=is_global)

    def register_table(self, name: str, path: Optional[str] = None,
                       df: Optional[DataFrame] = None,
                       schema: Optional[TableSchema] = None,
                       is_global: bool = False, format: str = "parquet",
                       partition_by: Optional[list] = None,
                       pre_encrypted: bool = False,
                       **reader_options) -> None:
        """Register a table from parquet (default), csv, json, or orc — any
        Spark batch source; csv defaults to header+inferSchema.

        ``partition_by`` names hive-style partition columns for the
        WAREHOUSE layout: every flush writes the table partitioned by
        these columns (directory-per-value), so reopened readers get
        partition PRUNING — a filter on the partition column reads only
        its directories (``PartitionFilters`` in the plan), the
        100 TB-standard layout for date/source/tenant-keyed tables.
        Prefer low-cardinality string/int columns; the setting persists
        in the manifest across reopens."""
        if df is None and path is None:
            raise ValueError("register_table needs a path or a DataFrame")
        if df is None:
            if format == "parquet":
                df = self._read_parquet(path)
            elif format == "csv":
                opts = {"header": "true", "inferSchema": "true", **reader_options}
                df = self.spark.read.options(**opts).csv(path)
            else:
                df = self.spark.read.options(**reader_options).format(format).load(path)
        if schema is None:
            schema = TableSchema.from_struct_type(name, df.schema, is_global=is_global)
        self._validate_encrypted_fields(schema)
        if not pre_encrypted:
            # user-supplied content arrives plaintext; the registry
            # holds ciphertext (``pre_encrypted=True`` — the restore
            # path — registers already-at-rest bytes verbatim)
            df = to_stored(df, schema, self.encryption)
        space = "global" if is_global else self._space
        if (space, name) in self._tables:
            # re-registering replaces the data: advance the generation so
            # query caches and analyze_table stats for the old frame die
            self._generations[(space, name)] = \
                self._generations.get((space, name), 0) + 1
        self._tables[(space, name)] = {
            "df": df, "path": path, "schema": schema, "global": is_global,
            "partition_by": list(partition_by) if partition_by else None,
        }
        # a re-registration is a whole-table replacement — never an
        # append-only mutation the flush fast path may ship as a segment
        self._append_deltas[(space, name)] = None
        self._delete_deltas[(space, name)] = None

    def _read_parquet(self, path: str, schema=None) -> DataFrame:
        """Parquet read that tolerates nanosecond timestamps (Spark rejects
        TIMESTAMP(NANOS) by default): read them as long nanos and convert to
        microsecond timestamps — exact integer math, no double rounding.

        ``schema`` (StructType) pins the read schema: the read starts
        no schema-inference job, and columns come back in the pinned
        order.  Warehouse reads pass the schema the flush recorded
        (store._SCHEMA_SIDECAR); it is REQUIRED for hive-partitioned
        dirs, where partition-column type inference would otherwise
        retype numeric-looking string values ('001' → int 1, leading
        zeros irrecoverably lost).  None (registered sources, versions
        written before schemas were recorded) infers.

        ``path`` may be a list of directories — the SEGMENT read of an
        append-fast-path table (store.flush_tables): one multi-root
        parquet scan over base + delta segments, still one plan node.
        Hive-partitioned roots cannot share a scan (partition discovery
        rejects several partitioned roots): callers read those one root
        at a time (store._ops_frame)."""
        paths = [path] if isinstance(path, str) else list(path)
        if schema is not None:
            df = self.spark.read.schema(schema).parquet(*paths)
            names = schema.fieldNames()
            # hive roots append partition columns; reorder only then (a
            # no-op select still costs a py4j call per column)
            return df if df.columns == names else df.select(*names)
        ns_cols: list[str] = []
        try:
            import pyarrow.parquet as pq
            # probe EVERY root: engine-written segments are always
            # micros, but externally registered bases may mix — a later
            # segment's ns column would otherwise skip conversion
            seen = set()
            for p in paths:
                for f in pq.read_schema(p):
                    if (f.name not in seen
                            and str(f.type).startswith("timestamp[ns")):
                        seen.add(f.name)
                        ns_cols.append(f.name)
        except Exception:
            pass
        if not ns_cols:
            return self.spark.read.parquet(*paths)
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = self.spark.read.parquet(*paths)
        from pyspark.sql import functions as F
        for c in ns_cols:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return df

    def bucket_table(self, name: str, bucket_cols: list[str],
                     n_buckets: int = 32, alias: Optional[str] = None,
                     path: Optional[str] = None) -> str:
        """Persist a bucketed copy of a table (bucketBy + sortBy →
        saveAsTable with an explicit path): equi-joins and aggregations
        keyed on the bucket columns then read co-located, pre-sorted
        buckets with NO shuffle exchange on either side — the lever for
        repeated big x big joins at 100 TB (SURVEY.md §4.2).  Both join
        sides must use the same n_buckets.  Returns the registered name."""
        import re
        import tempfile

        tbl = alias or f"{name}_by_{'_'.join(bucket_cols)}"
        catalog = re.sub(r"[^a-zA-Z0-9_]", "_", f"ts_{self._space}_{tbl}").lower()
        if path is None:
            path = tempfile.mkdtemp(prefix=f"bucketed_{name}_")
        (self.df(name).write.mode("overwrite").format("parquet")
         .option("path", path)
         .bucketBy(n_buckets, *bucket_cols).sortBy(*bucket_cols)
         .saveAsTable(catalog))
        self.register_table(tbl, df=self.spark.table(catalog))
        return tbl

    def create_table(self, schema: TableSchema) -> None:
        """Create an empty managed table from a declared TableSchema."""
        self._validate_encrypted_fields(schema)
        # shape the EMPTY registry frame like every later ciphertext
        # frame: encrypted columns are stored as string regardless of
        # their declared type (the typed-envelope layout), so the first
        # union/decrypt must already see string here
        df = to_stored(local_df(self.spark, [], schema.to_struct_type()),
                       schema, self.encryption)
        space = "global" if schema.is_global else self._space
        self._tables[(space, schema.name)] = {
            "df": df, "path": None, "schema": schema, "global": schema.is_global,
        }

    def _validate_encrypted_fields(self, schema: TableSchema) -> None:
        """The at_rest module's refusal list (see its doc for each
        reason): encrypted fields must be plain text payload columns —
        never a value the key/index/pruning machinery consults."""
        enc = [f for f in schema.fields if getattr(f, "encrypted", False)]
        if not enc:
            return
        if self.encryption is None:
            raise ValueError(
                f"table {schema.name} declares encrypted fields but the "
                "engine has no encryption=EncryptionConfig(key=...)")
        names = {f.name for f in enc}
        for f in enc:
            # any declared type may encrypt (r12 — the typed-envelope
            # layout in at_rest.encrypt_frame); the refusals below are
            # about VALUES the layout/pruning machinery must consult
            if f.unique or f.create_index:
                raise ValueError(
                    f"encrypted field {f.name} cannot be unique/indexed")
        if schema.primary_key is not None \
                and schema.primary_key.name in names:
            raise ValueError("the primary key cannot be encrypted")
        if schema.ttl is not None and schema.ttl.source_field in names:
            raise ValueError("the TTL source field cannot be encrypted")
        for ix in schema.indexes:
            if names & set(ix.fields):
                raise ValueError(
                    f"encrypted fields {sorted(names & set(ix.fields))} "
                    "cannot be indexed")
        for fk in getattr(schema, "foreign_keys", []) or []:
            if names & set(fk.fields):
                raise ValueError(
                    f"encrypted fields cannot be foreign keys")

    def _enc_cols(self, key: tuple) -> list:
        """Names of at-rest-encrypted columns for a registry entry
        ([] without config — the feature is entirely opt-in)."""
        ent = self._tables.get(key)
        return list(encrypted_spec(ent and ent.get("schema"),
                                   self.encryption))

    def create_tables(self, schemas: list[TableSchema]) -> None:
        """Create several tables at once (tostore.dart:356)."""
        for sch in schemas:
            self.create_table(sch)

    def table_exists(self, name: str) -> bool:
        """Whether the table resolves in the current space or globally
        (tostore.dart:944)."""
        try:
            self._resolve(name)
            return True
        except KeyError:
            return False

    def get_table_schema(self, name: str) -> Optional[TableSchema]:
        """TableSchema or None (tostore.dart:956)."""
        try:
            return self.schema(name)
        except KeyError:
            return None

    def get_table_info(self, name: str) -> Optional[dict]:
        """Table metadata: record count, index count, schema, global flag,
        write generation (tostore.dart:986 TableInfo)."""
        try:
            key = self._resolve(name)
        except KeyError:
            return None
        ent = self._tables[key]
        sch: TableSchema = ent["schema"]
        return {
            "name": name,
            "space": key[0],
            "record_count": self.df(name).count(),
            "index_count": len(sch.all_indexes()),
            "is_global": ent["global"],
            "schema": sch,
            "generation": self._generations.get(key, 0),
            "path": ent["path"],
        }

    def drop_table(self, name: str) -> None:
        self._tables.pop(self._resolve(name), None)

    def clear(self, name: str) -> None:
        """Empty the table.  Routed through ``set_df`` so the clear is
        DURABLE: the generation bumps (rewrite-dirty — no append/delete
        fast path) and the next flush persists the empty state.  A
        direct ``ent["df"] = empty`` would leave the flushed recipe
        untouched and a reopen would resurrect every row (r17 fix,
        found while testing refresh exports; pinned in
        tests/test_store.py::test_clear_is_durable)."""
        key = self._resolve(name)
        ent = self._tables[key]
        self._set_df_at_key(
            key, local_df(self.spark, [], ent["df"].schema),
            pre_encrypted=True)

    def table_names(self) -> list[str]:
        return sorted({n for (sp, n) in self._tables
                       if sp in (self._space, "global")})

    def _resolve(self, name: str) -> tuple[str, str]:
        for key in ((self._space, name), ("global", name)):
            if key in self._tables:
                return key
        raise KeyError(f"unknown table: {name} (space={self._space})")

    # ---- spaces (data_store_impl.dart:5873-5936) ----------------------
    def switch_space(self, space: str) -> "ToStoreSpark":
        self._space = space
        self._known_spaces.add(space)
        return self

    @property
    def current_space(self) -> str:
        return self._space

    @property
    def _known_spaces(self) -> set:
        if not hasattr(self, "_spaces"):
            self._spaces = {"default", self._space}
        return self._spaces

    def list_spaces(self) -> list[str]:
        """All space names, sorted; always contains 'default'
        (tostore.dart:1152-1158)."""
        named = {sp for sp, _ in self._tables if sp != "global"}
        return sorted(self._known_spaces | named | {"default"})

    def delete_space(self, space: str) -> DbResult:
        """Drop a space and its tables; the default and the currently
        active space are protected (tostore.dart:1134-1146)."""
        if space == "default":
            return DbResult(False, "cannot delete the default space")
        if space == self._space:
            return DbResult(False, "cannot delete the currently active space")
        for key in [k for k in self._tables if k[0] == space]:
            del self._tables[key]
            self._generations.pop(key, None)
            self._append_deltas.pop(key, None)
            self._delete_deltas.pop(key, None)
        self._known_spaces.discard(space)
        return DbResult(True, f"space {space} deleted")

    def get_space_info(self, use_cache: bool = True) -> dict:
        """Current-space summary (tostore.dart:1119-1130); counts are
        computed fresh (the useCache knob is accepted for parity)."""
        tables = self.table_names()
        return {
            "name": self._space,
            "tables": tables,
            "table_count": len(tables),
            "version": self.get_version(),
        }

    # ---- user-maintained version number (tostore.dart:1008-1035) ------
    def get_version(self) -> int:
        return getattr(self, "_versions", {}).get(self._space, 0)

    def set_version(self, version: int) -> None:
        if not hasattr(self, "_versions"):
            self._versions: dict[str, int] = {}
        self._versions[self._space] = int(version)

    # ---- access -------------------------------------------------------
    def df(self, name: str) -> DataFrame:
        return self._df_at_key(self._resolve(name))

    def _df_at_key(self, key: tuple) -> DataFrame:
        """Key-addressed read — (space, name) resolved by the CALLER.
        Cross-space machinery (row-merge replay, apply_changes) must use
        this: ``df(name)`` resolves through the ACTIVE space and would
        silently read a same-named table from the wrong space."""
        rs = getattr(self, "_txn_read_versions", None)
        if rs is not None:
            if key not in rs:
                # serializable transaction scope: record the manifest
                # version this table was READ at (first read wins — the
                # transaction's snapshot); flush re-validates the set
                rs[key] = self._flushed_gen.get(key, 0)
            # read GRANULARITY: a raw frame read demands whole-table
            # validation (the caller can do anything with the plan); a
            # QueryBuilder read flags itself via _txn_pred_scope and
            # appends its compiled predicate (query.py), narrowing the
            # conflict test to rows the read could actually see.  A
            # whole-table demand is never downgraded (setdefault keeps
            # an existing None).
            preds = self._txn_read_preds
            if getattr(self, "_txn_pred_scope", None) == key:
                preds.setdefault(key, [])
            else:
                preds[key] = None
        ent = self._tables[key]
        # the registry frame is STORED (TTL-unswept rows, ciphertext);
        # every consumer above this line sees the visible frame
        return to_visible(ent["df"], ent["schema"], self.encryption)

    def _is_clean(self, key: tuple) -> bool:
        """No unflushed mutation: the in-memory generation equals the
        last flushed one, so the manifest recipe IS the table."""
        return self._generations.get(key, 0) == self._flushed_gen.get(key)

    def _stats_summaries(self, name: str,
                         counted_dels: bool = False):
        """Per-segment footer summaries covering EVERY segment of a
        CLEAN warehouse table (plans/skipping shape: {"rows", "cols"}),
        or None when any segment lacks one, the table has unflushed
        mutations, or a TTL read-filter reshapes the visible frame —
        the eligibility gate shared by the metadata-only aggregates.

        ``counted_dels=True`` (the COUNT fast path only) returns
        ``(summaries, deleted_rows)`` instead, staying eligible across
        pending deletion-vector epochs whose exact removed-row counts
        the flush recorded (store ``del_counts``: written only when the
        flush-time probe proved raw == distinct keys, i.e. each key
        removed exactly one row).  Still refused when any del belongs
        to a replace pair (its key may match nothing — an upsert's
        insert half) or lacks a recorded count.  min/max must NOT use
        this: a deleted row could hold the extremum."""
        key = self._resolve(name)
        ent = self._tables[key]
        stats, segs = ent.get("segment_stats"), ent.get("segments")
        if not stats or not segs:
            return None
        if not getattr(self, "data_skipping", True):
            return None    # the master kill switch covers stats serves
        from tostore_spark.store import _norm_path
        ops = ent.get("ops")
        del_total = 0
        if ops and any(k == "del" for k, _p in ops):
            # deletion vectors pending: segment stats still count the
            # deleted rows — metadata answers would be wrong unless
            # every vector carries a flush-verified exact count
            if not counted_dels:
                return None
            dcounts = ent.get("del_counts") or {}
            seg_paths = {_norm_path(p) for k, p in ops if k == "seg"}
            for k, p in ops:
                if k == "seg":
                    continue
                np_ = _norm_path(p)
                if np_ in seg_paths or np_ not in dcounts:
                    return None
                del_total += int(dcounts[np_])
        if not self._is_clean(key) or ttl_active(ent["schema"].ttl):
            return None
        out = []
        for seg in segs:
            st = stats.get(_norm_path(seg))
            if not isinstance(st, dict) or "rows" not in st:
                return None
            out.append(st)
        return (out, del_total) if counted_dels else out

    def stats_count(self, name: str) -> Optional[int]:
        """Metadata-only ``count(*)``: the sum of per-segment footer row
        counts minus the flush-verified deletion-vector counts — zero
        Spark jobs, zero file listings (the Delta/Iceberg numRecords
        fast path, extended across pure-append + pure-delete recipe
        chains).  None when ineligible (then the caller runs the normal
        scan).  ``engine._last_meta_agg`` records the serve so tests
        can assert no scan happened."""
        s = self._stats_summaries(name, counted_dels=True)
        if s is None:
            self._last_meta_agg = None
            return None
        summaries, del_total = s
        self._last_meta_agg = ("count", name)
        return sum(int(x["rows"]) for x in summaries) - del_total

    def stats_min_max(self, name: str, field: str,
                      kind: str) -> Optional[tuple]:
        """Metadata-only min/max over an INTEGRAL or BOOLEAN column:
        parquet footer bounds are exact for those types.  Refused (None)
        for strings (the format allows truncated string bounds) and
        floats (writers exclude NaN from bounds, while Spark's max
        treats NaN as the largest double — a NaN row would make the
        footer answer wrong).  Returns a 1-tuple ``(value,)`` — which
        may be ``(None,)`` for an empty/all-null-eligible table — or
        None when ineligible."""
        s = self._stats_summaries(name)
        if s is None:
            self._last_meta_agg = None
            return None
        ent = self._tables[self._resolve(name)]
        from pyspark.sql import types as T
        try:
            dt = ent["df"].schema[field].dataType
        except KeyError:
            self._last_meta_agg = None
            return None
        if not isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                               T.LongType, T.BooleanType)):
            self._last_meta_agg = None
            return None
        bound = None
        for st in s:
            if int(st["rows"]) == 0:
                continue       # empty segment contributes nothing
            c = (st.get("cols") or {}).get(field)
            if c is None:
                # uncovered in a non-empty segment: could be all-null
                # there (ignorable) or undecodable stats — can't tell,
                # so fall back to the scan
                self._last_meta_agg = None
                return None
            v = c["min"] if kind == "min" else c["max"]
            if v is None:
                continue       # all-null segment: no contribution
            if bound is None or (v < bound if kind == "min" else v > bound):
                bound = v
        self._last_meta_agg = (kind, name, field)
        return (bound,)

    def pruned_df(self, name: str, node) -> Optional[DataFrame]:
        """Manifest-level data skipping (plans/skipping): when ``name``
        is a CLEAN warehouse table (in-memory generation == last flushed
        — unflushed mutations live only in the pinned frame, not in any
        segment) whose manifest entry carries per-segment footer stats,
        rebuild the scan from only the segments (and, with a
        ``_filestats.json`` sidecar, only the FILES) whose min/max
        ranges admit the NORMALIZED condition ``node``.  Tables with
        pending deletion-vector epochs stay skippable: the recipe is
        re-folded (``store._ops_frame``) over the survivors with every
        anti-join re-applied in order — pruning only ever drops
        segments no predicate row can live in, which deletions only
        shrink.  Returns None when skipping does not apply or prunes
        nothing — the caller keeps the standard frame.
        ``engine._last_prune`` records ``(kept, total, table)`` for the
        last eligible read (None when ineligible) and
        ``engine._last_prune_files`` the file-grain ``(kept, total)``;
        ``engine.data_skipping = False`` turns the whole layer off."""
        key = self._resolve(name)
        ent = self._tables[key]
        stats = ent.get("segment_stats")
        segs = ent.get("segments")
        clean = self._is_clean(key) and getattr(self, "data_skipping", True)
        if not stats or not segs or not clean:
            self._last_prune = None
            return None
        from tostore_spark.plans.skipping import (node_may_match,
                                                  prune_segments)
        from tostore_spark.store import _norm_path, _ops_frame
        if ent.get("bloom_cols"):
            stats = self._with_blooms(segs, stats)
        surviving = prune_segments(segs, stats, node, key[1],
                                   norm=_norm_path)
        self._last_prune = (len(surviving), len(segs), key[1])
        self._last_prune_files = None
        keep = {_norm_path(s): None for s in surviving}
        # file-grain refinement (the _filestats.json sidecar): prune
        # individual files WITHIN the surviving roots — after an
        # OPTIMIZE/z-order rewrite every file covers a narrow key
        # range, so this is where clustering pays off.  Engaged only
        # when every surviving root has a sidecar AND a file was
        # actually dropped.
        file_sel: dict = {}
        kept_f = total_f = 0
        for seg in surviving:
            fstats = self._file_stats(seg)
            if not fstats:
                file_sel = {}
                break
            total_f += len(fstats)
            root = seg[:-1] if seg.endswith("/") else seg
            # per-FILE blooms (build_bloom_payload's files map):
            # a point value provably absent from a file skips it
            # even inside a surviving segment
            fbloom = (self._bloom_stats(seg) or {}
                      if ent.get("bloom_cols") else {})
            fb_files = fbloom.get("files") or {}
            kept = []
            for rel, summ in fstats.items():
                if rel in fb_files:
                    summ = {**summ,
                            "bloom": {"m": fbloom["m"],
                                      "k": fbloom["k"],
                                      "h": fbloom.get("h"),
                                      "cols": fb_files[rel]}}
                if node_may_match(node, summ, key[1]):
                    kept.append(f"{root}/{rel}")
            kept_f += len(kept)
            file_sel[_norm_path(seg)] = kept
        if file_sel and kept_f < total_f:
            keep.update(file_sel)
            self._last_prune_files = (kept_f, total_f)
        elif len(surviving) == len(segs):
            return None
        base = ent["df"]
        # every rebuilt read pins the registry frame's schema: no
        # schema-inference job per root, and exact partition-value
        # types for hive roots (the frame itself was read pinned to the
        # recorded schemas, or inferred for unrecorded versions)
        df = _ops_frame(self, ent.get("ops") or [["seg", s] for s in segs],
                        schema=(base.schema,
                                bool(ent.get("partition_by"))),
                        keep=keep)
        # the same stored→visible boundary as ``_df_at_key``: a
        # skipping-rebuilt scan is indistinguishable from the registry
        # frame
        return to_visible(df.select(*base.columns), ent["schema"],
                          self.encryption)

    def enable_bloom_skip(self, name: str, cols: list,
                          bits: int = 65536, k: int = 4) -> None:
        """Opt into point-lookup segment skipping on high-cardinality
        keys: from the NEXT flush on, every new version dir gets a
        ``_bloom.json`` sidecar with one ``bits``-bit bloom bitmap per
        listed column (k md5 double-hash probes), and ``=`` / ``IN`` queries drop
        segments the bitmap proves valueless — the case min/max stats
        can never decide (an unsorted key column spans the whole
        keyspace in every segment).  Integral/string columns only
        (float cast formatting and NaN semantics diverge between the
        build and probe sides).  Existing segments are unaffected until
        rewritten (e.g. ``optimize_table``) — absent sidecars just keep
        their segments.  Persisted in the manifest.  Sized at the
        default, 65536 bits = 8 KB/column/segment; ~1% false-keep at
        ~6.8k distinct values per segment — false positives only cost a
        read, never correctness."""
        key = self._resolve(name)
        ent = self._tables[key]
        from pyspark.sql import types as T
        for c in cols:
            try:
                dt = ent["df"].schema[c].dataType
            except KeyError:
                raise ValueError(f"bloom_skip column {c!r} not in "
                                 f"table {name!r}")
            if isinstance(dt, T.BooleanType) or not isinstance(
                    dt, (T.ByteType, T.ShortType, T.IntegerType,
                         T.LongType, T.StringType)):
                raise ValueError(
                    f"bloom_skip column {c!r} must be integral or "
                    f"string, got {dt.simpleString()}")
        ent["bloom_cols"] = {"cols": list(cols), "m": int(bits),
                             "k": int(k)}

    def _sidecar(self, seg: str, fname: str, cache: str, decode):
        """Lazy, cached read of a segment's JSON sidecar ``fname``,
        decoded by ``decode``.  Version dirs are immutable, so the
        cache (attribute ``cache``, dropped at flush/refresh) is keyed
        by the segment path alone.  None when absent or unreadable."""
        memo = self.__dict__.setdefault(cache, {})
        if seg in memo:
            return memo[seg]
        out = None
        try:
            import json as _json
            from tostore_spark import fs as _fsmod
            fs = _fsmod.get_fs(self._warehouse, self.spark)
            p = _fsmod.join(seg, fname)
            if fs.exists(p):
                out = decode(_json.loads(fs.read_text(p)))
        except Exception:
            out = None
        memo[seg] = out
        return out

    def _bloom_stats(self, seg: str) -> Optional[dict]:
        """A segment's base64-decoded ``_bloom.json`` sidecar —
        {"m", "k", "h", "cols": {col: bytes}, "files": {rel: {col:
        bytes}}}."""
        return self._sidecar(seg, "_bloom.json", "_bloom_cache",
                             _decode_bloom)

    def table_stats(self, name: str) -> dict:
        """Metadata-only observability for a warehouse table: the
        manifest's per-segment footer summaries plus the recipe shape —
        no Spark job, no file listing.  Shape::

            {"table", "segments": [{"path", "rows", "cols":
              {col: {"min", "max", "nulls"}}}, ...],
             "total_rows": int|None,   # None while deletes pending
             "recipe": [["seg"|"del", path], ...],
             "delete_epochs": int, "bloom_cols": [...]|None}

        ``total_rows`` is exact only when no deletion vectors are
        pending (their removed counts live in the key sets, not the
        stats); dirty in-memory state is NOT reflected — this reads
        the flushed metadata, the same source the skipping layer and
        ``stats_count`` use."""
        key = self._resolve(name)
        ent = self._tables[key]
        from tostore_spark.store import _norm_path
        stats = ent.get("segment_stats") or {}
        segs = ent.get("segments") or []
        ops = ent.get("ops") or [["seg", p] for p in segs]
        has_del = any(k == "del" for k, _p in ops)
        seg_rows = []
        total = 0
        complete = True
        for seg in segs:
            st = stats.get(_norm_path(seg))
            if st and "rows" in st:
                total += int(st["rows"])
                seg_rows.append({"path": seg, "rows": int(st["rows"]),
                                 "cols": st.get("cols") or {}})
            else:
                complete = False
                seg_rows.append({"path": seg, "rows": None, "cols": {}})
        bl = ent.get("bloom_cols")
        return {"table": name, "segments": seg_rows,
                "total_rows": (total if complete and not has_del
                               else None),
                "recipe": [list(o) for o in ops],
                "delete_epochs": sum(1 for k, _p in ops if k == "del"),
                "bloom_cols": list(bl["cols"]) if bl else None}

    def _pruned_read(self, paths: list, schema, base=None) -> DataFrame:
        """Memoized segment read for skipping's rebuilt scans
        (``store._ops_frame`` over a survivor set): a pruned read lists
        files when its plan is built, and the SAME predicate re-run
        would otherwise pay that driver-side cost every call.  ``base``
        is the hive root a file list lives under: the list reads under
        ``basePath`` so the path-encoded partition columns survive,
        pinned so their value types stay exact.  Version dirs are
        immutable, so a plan keyed by its exact path set and read
        schema stays valid; the cache is cleared with the sidecar
        caches at flush/refresh."""
        cache = self.__dict__.setdefault("_prune_plan_cache", {})
        key = (tuple(paths),
               schema.json() if schema is not None else None, base)
        df = cache.get(key)
        if df is None:
            df = (self._read_parquet(paths, schema=schema) if base is None
                  else self.spark.read.option("basePath", base)
                  .schema(schema).parquet(*paths))
            if len(cache) >= 256:
                cache.clear()
            cache[key] = df
        return df

    def _with_blooms(self, segs: list, stats: dict) -> dict:
        """``stats`` (keyed by ``store._norm_path``) restricted to the
        segments that have some, each with its decoded bloom sidecar
        injected so =/IN leaves can prove a point value absent where
        the min/max range cannot (``enable_bloom_skip``)."""
        from tostore_spark.store import _norm_path
        out = {}
        for seg in segs:
            st = stats.get(_norm_path(seg))
            if st:
                bl = self._bloom_stats(seg)
                out[_norm_path(seg)] = {**st, "bloom": bl} if bl else st
        return out

    def _file_stats(self, seg: str) -> Optional[dict]:
        """A segment's ``_filestats.json`` sidecar ({relpath: per-file
        summary}); None when absent."""
        return self._sidecar(seg, "_filestats.json", "_filestats_cache",
                             lambda raw: raw.get("files") or None)

    def schema(self, name: str) -> TableSchema:
        return self._tables[self._resolve(name)]["schema"]

    def primary_key(self, name: str) -> Optional[str]:
        try:
            sch = self.schema(name)
        except KeyError:
            return None
        return sch.primary_key.name if sch.primary_key else None

    def set_df(self, name: str, df: DataFrame, weight: int = 1,
               append_delta: Optional[DataFrame] = None,
               delete_delta: Optional[DataFrame] = None) -> None:
        """``weight`` counts toward the compaction budget: plan-heavy
        rewrites (e.g. unique-checked updates, whose olds-join would
        otherwise compound in lineage between barriers) pass >1 so the
        lineage-cutting pin arrives proportionally sooner.

        ``append_delta``: when the new frame is PROVABLY the old frame
        plus exactly these rows (insert paths), pass the appended rows —
        the flush fast path then ships only the delta as a new segment
        instead of rewriting the table (store.flush_tables).

        ``delete_delta``: when the new frame is PROVABLY the old frame
        minus exactly the rows carrying these PK values (validated
        delete paths), pass the deleted-PK frame — the flush then
        commits a deletion vector instead of rewriting.  Any write
        without a delta (or mixing the two kinds in one epoch) poisons
        both fast paths until the next flush.

        Both deltas must be self-contained: a driver-resident batch or
        a frame derived from an eager pin.  Their lineage
        must not reference frames a later mutation replaces before the
        flush, so writers pin their deltas themselves; the epoch fold
        pins nothing."""
        self._set_df_at_key(self._resolve(name), df, weight=weight,
                            append_delta=append_delta,
                            delete_delta=delete_delta)

    def _set_df_at_key(self, key: tuple, df: DataFrame,
                       weight: int = 1,
                       append_delta: Optional[DataFrame] = None,
                       delete_delta: Optional[DataFrame] = None,
                       pre_encrypted: bool = False) -> None:
        """Key-addressed write — see ``_df_at_key`` for why cross-space
        callers must not go through active-space name resolution.

        Epoch algebra (flush fast paths): the epoch state is a folded
        REPLACE pair (K, R) — "anti-join the key frame K, then union
        the row frame R onto the base".  Every delta write folds
        exactly (sequential-application semantics):

        - append A:            R ← R ∪ A                 (K unchanged)
        - delete D:            K ← K ∪ D,  R ← R ∖ D
        - replace (D, A) — an upsert/batch_update's touched keys +
          merged output rows:  apply the delete fold, then the append

        A write with neither delta poisons both maps until the next
        flush (a rewrite is not expressible as (K, R)).  Flush commits
        pure-append epochs as plain segments, pure-delete epochs as
        deletion vectors, and mixed epochs as a del+seg pair in one
        version dir (store.flush_tables)."""
        if not pre_encrypted:
            # at-rest boundary: writers hand PLAINTEXT frames (they
            # derive from df()); the registry and every flushed byte
            # hold ciphertext.  Key frames carry only never-encrypted
            # key columns, so the delete delta passes through.
            # ``pre_encrypted``: the caller already holds ciphertext
            # (append_rows unions onto the RAW registry frame) — a
            # second pass would double-encrypt the base.
            sch = self._tables[key]["schema"]
            df = to_stored(df, sch, self.encryption)
            if append_delta is not None:
                append_delta = to_stored(append_delta, sch,
                                         self.encryption)
        self._tables[key]["df"] = df
        self._generations[key] = self._generations.get(key, 0) + 1
        adeltas, ddeltas = self._append_deltas, self._delete_deltas

        def _poison():
            adeltas[key] = None
            ddeltas[key] = None

        if append_delta is None and delete_delta is None:
            _poison()                     # rewrite-dirty: no fast path
        elif not self._epoch_poisoned(key):
            # The fold must NEVER leave a stale (K, R) pair behind: the
            # in-memory frame was already replaced above, so a fold that
            # raises (e.g. a delete delta keyed on a different column
            # set than the epoch's earlier delete — upsert matched on a
            # non-PK unique index, then a PK-keyed delete) would desync
            # the recorded deltas from the visible frame and a later
            # flush would durably drop the second mutation.  Any
            # incompatibility or exception poisons instead — the flush
            # then falls back to the always-correct full rewrite.
            from pyspark.sql import functions as F
            cur_a, cur_d = adeltas.get(key), ddeltas.get(key)
            compatible = True
            if delete_delta is not None:
                dcols = set(delete_delta.columns)
                if cur_d is not None and set(cur_d.columns) != dcols:
                    compatible = False          # mixed delete key sets
                if cur_a is not None and not dcols <= set(cur_a.columns):
                    compatible = False          # can't anti-join R ∖ D
            if not compatible:
                _poison()
            else:
                # the deltas arrive pinned (set_df), so the fold stays
                # lazy: the flush computes it once
                try:
                    if delete_delta is not None:
                        if cur_a is not None:
                            # R ∖ D — deleting rows this epoch appended
                            cur_a = cur_a.join(
                                delete_delta, on=list(delete_delta.columns),
                                how="left_anti")
                        new_d = (cur_d.unionByName(delete_delta)
                                 if cur_d is not None else delete_delta)
                        if append_delta is not None:
                            cur_a = (cur_a.unionByName(append_delta)
                                     if cur_a is not None else append_delta)
                        # commit both maps only after every step succeeded
                        ddeltas[key] = new_d
                        adeltas[key] = cur_a
                    elif append_delta is not None:
                        adeltas[key] = (cur_a.unionByName(append_delta)
                                        if cur_a is not None
                                        else append_delta)
                except Exception:
                    _poison()
        self._maybe_compact(key, weight=weight)
        for w in list(getattr(self, "_watchers", [])):
            w.notify_change(key[1])

    @property
    def _txn_read_preds(self) -> dict:
        """(space, name) → None (whole-table read: any concurrent change
        conflicts) or a list of normalized ConditionNodes (predicate-
        scoped reads: only a changed row MATCHING one of them
        conflicts).  Populated only inside a serializable transaction;
        consumed by ``store._check_read_set``."""
        if not hasattr(self, "_txn_rpreds"):
            self._txn_rpreds = {}
        return self._txn_rpreds

    def _epoch_poisoned(self, key: tuple) -> bool:
        """True once a write this epoch turned both flush fast paths
        off: further deltas are dropped, so writers need not pin any."""
        a, d = self._append_deltas, self._delete_deltas
        return key in a and a[key] is None and key in d and d[key] is None

    @property
    def _append_deltas(self) -> dict:
        """(space, name) → appended-rows frame for tables whose every
        mutation since the last flush was an append (the flush segment
        fast path), or None for tables rewritten this epoch."""
        if not hasattr(self, "_adeltas"):
            self._adeltas = {}
        return self._adeltas

    @property
    def _delete_deltas(self) -> dict:
        """(space, name) → deleted-PK frame for tables whose every
        mutation since the last flush was a PK-identified delete (the
        flush deletion-vector fast path, store.flush_tables), or None
        for tables rewritten this epoch."""
        if not hasattr(self, "_ddeltas"):
            self._ddeltas = {}
        return self._ddeltas

    def append_rows(self, name: str, rows_df: DataFrame) -> int:
        """Explicit append fast path: union ``rows_df`` into the table
        AND record it as the flush delta — at flush time only these rows
        are written (a new parquet segment joins the table's segment
        list in one manifest commit; store.flush_tables), never a
        whole-table rewrite.  The 100 TB ingest shape: appending a
        1 GB batch to a 100 TB table costs 1 GB of IO.  Columns must
        match the stored frame (missing columns are an error here —
        an append segment must be readable with the table's schema)."""
        key = self._resolve(name)
        cur = self._tables[key]["df"]
        if sorted(rows_df.columns) != sorted(cur.columns):
            raise ValueError(
                f"append_rows into {name}: columns {sorted(rows_df.columns)}"
                f" != table columns {sorted(cur.columns)}")
        # the caller hands PLAINTEXT rows but ``cur`` is the RAW
        # ciphertext registry frame: encrypt the delta here (O(delta)
        # work) and tell _set_df_at_key the union is already at rest —
        # re-encrypting would double-encrypt the base
        rows_df = to_stored(rows_df, self._tables[key]["schema"],
                            self.encryption)
        # conform TYPES, not just names: a delta segment whose parquet
        # physical type diverges from the base segments breaks (or
        # silently retypes) the multi-root read-back AFTER the manifest
        # commit — cast to the stored schema now so a lossy/impossible
        # cast fails loud here instead
        rows_df = _cast_to_table_schema(rows_df, cur.schema)
        delta = pin(rows_df.select(*cur.columns), eager=True)
        self._set_df_at_key(key, cur.unionByName(delta),
                            append_delta=delta, pre_encrypted=True)
        return delta.count()

    @property
    def _generations(self) -> dict:
        if not hasattr(self, "_gen"):
            self._gen = {}
        return self._gen

    def generation(self, name: str) -> int:
        """Per-table write generation — the query-cache invalidation key
        (query_executor.dart:3217-3254).  Keyed by the resolved
        (space, name) so same-named tables in different spaces don't share
        a generation counter."""
        try:
            key = self._resolve(name)
        except KeyError:
            return 0
        return self._generations.get(key, 0)

    # ---- lineage bounding (the batch analog of WAL+buffer compaction,
    # data_store_impl.dart write-buffer flush) -------------------------
    def _maybe_compact(self, key: tuple[str, str], weight: int = 1) -> None:
        """Every ``_COMPACT_EVERY`` mutations, cut the logical plan
        (``store.pin_table``): iterative writes otherwise chain a new
        plan on the old one and analysis time / driver memory grow
        without bound."""
        from tostore_spark.store import pin_table
        if not hasattr(self, "_mutations"):
            self._mutations: dict[tuple[str, str], int] = {}
        n = self._mutations.get(key, 0) + max(1, weight)
        if n >= _COMPACT_EVERY:
            pin_table(self, key)
            n = 0
        self._mutations[key] = n

    def watch(self, builder, callback, remote: bool = True):
        """Reactive re-query on table change (query_builder.dart:473-543).

        With a warehouse configured, registering the first watcher also
        starts the cross-engine remote watch (``start_remote_watch`` in
        its default event-push mode) so OTHER engines' flushes reach
        this callback with no polling sleeps — latency bounded by the
        stream trigger.  ``remote=False`` keeps the watcher local-only
        (the caller drives remote visibility via
        ``check_remote_changes``/``start_remote_watch`` itself)."""
        from tostore_spark.streaming.reactive import Watcher
        if not hasattr(self, "_watchers"):
            self._watchers = []
        w = Watcher(builder, callback)
        self._watchers.append(w)
        if (remote and getattr(self, "_warehouse", None)
                and not self.remote_watch_active()):
            self.start_remote_watch()
        return w

    def remote_watch_active(self) -> bool:
        """True while a cross-engine watch (event-push stream or polling
        thread) is delivering other engines' flushes to this engine."""
        stream = getattr(self, "_remote_stream", None)
        if stream is not None and stream.isActive:
            return True
        return getattr(self, "_remote_stop", None) is not None

    def find_foreign_key(self, a: str, b: str):
        """FK metadata lookup for auto-joins: returns
        (child_table, parent_table, child_fields, parent_fields)."""
        for child, parent in ((a, b), (b, a)):
            try:
                sch = self.schema(child)
            except KeyError:
                continue
            for fk in sch.foreign_keys:
                if fk.referenced_table == parent:
                    return child, parent, list(fk.fields), list(fk.referenced_fields)
        return None

    # ---- lifecycle / diagnostics (tostore.dart:1035-1172) -------------
    def flush(self, flush_storage: bool = True,
              only: Optional[list] = None,
              on_conflict: str = "error",
              max_retries: int = 3,
              on_row_conflict: str = "error") -> list[str]:
        """Make pending mutations durable (tostore.dart:1035).

        With a ``warehouse`` configured, every dirty table is written to
        ``<warehouse>/<space>/<table>/v<generation>/`` by the distributed
        parquet writer, the manifest is atomically replaced, and the table
        is re-registered from the written files (lineage cut + memory
        released + durable — reopening ``ToStoreSpark(spark, data_dir,
        warehouse=...)`` resumes from exactly this state).  Without a
        warehouse (or flush_storage=False), dirty tables are only
        pinned: a memory barrier, NOT durable — mutations die
        with the session, as README limitations document.

        ``on_conflict`` picks the reaction to a concurrent writer having
        flushed one of this engine's dirty tables first (per-table CAS):

        - ``"error"`` (default): raise ``ConcurrentWriteError`` — the
          caller drives ``refresh()``/``refresh(row_merge=True)``.
        - ``"row_merge"``: automatic optimistic retry, the reference's
          transaction-retry loop (transaction_manager.dart:17-50) at row
          granularity — refresh(row_merge=True) then re-flush, up to
          ``max_retries`` times.  Disjoint-row writers commit without
          caller involvement; a genuine row overlap resolves per
          ``on_row_conflict`` (see ``refresh``: 'error' raises naming
          the keys, 'first_wins'/'column_merge' merge and document in
          ``last_merge_report``); exhausted retries still raise."""
        from tostore_spark import store as _store
        if on_conflict not in ("error", "row_merge"):
            raise ValueError(
                f"on_conflict must be error|row_merge, got {on_conflict!r}")
        attempts = max_retries if on_conflict == "row_merge" else 0
        for attempt in range(attempts + 1):
            try:
                flushed = _store.flush_tables(
                    self, flush_storage=flush_storage, only=only)
                break
            except _store.ConcurrentWriteError:
                if attempt == attempts:
                    raise
                self.refresh(row_merge=True,
                             on_row_conflict=on_row_conflict)
        if hasattr(self, "_mutations"):
            self._mutations.clear()
        return flushed

    def refresh(self, row_merge: bool = False,
                on_row_conflict: str = "error") -> list[str]:
        """Retry path after ConcurrentWriteError: reload the warehouse's
        current manifest (another writer's flush), then replay THIS
        engine's unflushed tables on top.  Raises ConcurrentWriteError
        listing the tables if the other writer also flushed one of them
        (a true conflict the caller must re-derive).

        ``row_merge=True`` narrows the conflict unit to the ROW: a
        same-table conflict is replayed by diffing this engine's local
        changes against its own flushed base and ``apply_changes``-ing
        them onto the other writer's committed state — disjoint-row
        writers both commit without re-deriving.  A genuine row overlap
        resolves per ``on_row_conflict``: ``'error'`` (default) raises
        naming the conflicting primary-key values; ``'first_wins'``
        keeps the committed writer's rows and documents the superseded
        keys in ``self.last_merge_report``; ``'column_merge'``
        three-way-merges update-vs-update overlaps column-wise (raises
        when both writers changed the same column differently).
        Returns replayed table names."""
        from tostore_spark import store as _store
        return _store.refresh(self, row_merge=row_merge,
                              on_row_conflict=on_row_conflict)

    def check_remote_changes(self) -> list[str]:
        """Cross-engine watch visibility: one manifest read; if another
        engine flushed the shared warehouse since we loaded it, fold the
        new state in (refresh) and fire the re-query notification of
        every live watcher on a remotely-changed table — the reference's
        all-writers notification (notification_manager.dart:9-40), with
        the manifest as the cross-process truth.  Raises
        ConcurrentWriteError if this engine's own unflushed work
        conflicts.  Returns remotely-changed table names."""
        from tostore_spark import store as _store
        return _store.check_remote_changes(self)

    def start_remote_watch(self, interval_s: float = 1.0,
                           mode: str = "auto") -> None:
        """Deliver other engines' flushes to this engine's watchers
        without explicit checks.

        ``mode="auto"`` (default): event PUSH — a Structured Streaming
        source on the warehouse's per-flush event log
        (``streaming.reactive.start_manifest_stream``), micro-batch
        trigger = ``interval_s``; falls back to the mtime-polling daemon
        thread on filesystems where a streaming file source cannot start.
        ``mode="push"`` requires the stream (raises on failure);
        ``mode="poll"`` forces the polling thread.  Either path records a
        true write conflict on ``last_remote_error`` and keeps running
        (local state kept — the owner must resolve via
        refresh/re-derive)."""
        import threading

        if mode not in ("auto", "push", "poll"):
            raise ValueError(f"mode must be auto|push|poll, got {mode!r}")
        self.stop_remote_watch()
        self.last_remote_error: Optional[Exception] = None
        if mode in ("auto", "push"):
            try:
                from tostore_spark.streaming.reactive import \
                    start_manifest_stream
                self._remote_stream = start_manifest_stream(
                    self, trigger=f"{max(int(interval_s * 1000), 50)} "
                                  "milliseconds")
                return
            except Exception:
                if mode == "push":
                    raise
                # no streaming-source support here — poll instead

        def _loop():
            while not self._remote_stop.wait(interval_s):
                try:
                    self.check_remote_changes()
                except Exception as exc:   # conflict or transient FS error
                    self.last_remote_error = exc

        self._remote_stop = threading.Event()
        self._remote_thread = threading.Thread(
            target=_loop, name="tostore-remote-watch", daemon=True)
        self._remote_thread.start()

    def stop_remote_watch(self) -> None:
        if getattr(self, "_remote_stream", None) is not None:
            try:
                self._remote_stream.stop()
            except Exception:
                pass
            self._remote_stream = None
        if getattr(self, "_remote_stop", None) is not None:
            self._remote_stop.set()
            self._remote_thread.join(timeout=5)
            self._remote_stop = None

    def vacuum(self, keep: int = 1) -> int:
        """Prune superseded version directories in the warehouse, keeping
        the ``keep`` newest per table (current always survives, as does
        any version pinned by a live ``df_at`` frame)."""
        from tostore_spark import store as _store
        return _store.vacuum(self, keep=keep)

    def table_diff(self, table: str, from_version: int,
                   to_version: int) -> DataFrame:
        """Change-data feed between two flushed versions: rows tagged
        ``change`` insert/delete (an in-place change = delete+insert).
        Feeds incremental consumers (mv_delta) without write replay."""
        from tostore_spark import store as _store
        return _store.table_diff(self, table, from_version, to_version,
                                 space=self._resolve(table)[0])

    def fsck(self):
        """Warehouse consistency report (manifest vs filesystem):
        missing / orphan / empty version directories as a DataFrame;
        zero rows = clean (store.fsck)."""
        from tostore_spark import store as _store
        return _store.fsck(self)

    def table_history(self, table: str):
        """Metadata view of a table's flushed versions — (version,
        is_current, n_files, size_bytes, modified_ts) as a DataFrame;
        filesystem metadata only, no data read (store.table_history)."""
        from tostore_spark import store as _store
        return _store.table_history(self, table,
                                    space=self._resolve(table)[0])

    def snapshot(self):
        """Consistent multi-table read view of the current flushed state
        (store.SnapshotView): repeatable reads across tables while
        writers keep committing; pinned against vacuum until
        ``.release()``."""
        from tostore_spark import store as _store
        return _store.snapshot(self)

    def apply_changes(self, table: str, feed) -> int:
        """Apply a table_diff-shaped change feed onto the current table
        state (CDC consumer; replay-exact — see store.apply_changes)."""
        from tostore_spark import store as _store
        return _store.apply_changes(self, table, feed,
                                    space=self._resolve(table)[0])

    def export_table(self, table: str, path: str,
                     format: str = "parquet", partition_by=None,
                     mode: str = "error", allow_decrypted: bool = False,
                     **options) -> str:
        """Export the table's current state to parquet/csv/json/orc via
        the distributed writer (no driver collect).  At-rest-encrypted
        fields refuse unless ``allow_decrypted=True``."""
        from tostore_spark import store as _store
        return _store.export_table(self, table, path, format=format,
                                   partition_by=partition_by, mode=mode,
                                   allow_decrypted=allow_decrypted,
                                   **options)

    def mirror_delta(self, table: str, dest: str,
                     deletion_vectors: bool = True,
                     allow_decrypted: bool = False,
                     change_data: bool = False,
                     bridge_iceberg: bool = False) -> dict:
        """Continuously materialize ``table`` as a standard Delta
        table: an initial commit runs now, and EVERY subsequent
        ``flush()`` of the table auto-exports its next incremental
        commit post-commit — appends as add-only, deletes/upserts as
        merge-on-read deletion vectors, anything else as an atomic
        refresh (plans/delta_export).  Any external Delta reader then
        always sees the store's last committed state without the
        store's own manifest — the practical answer to "I need other
        engines reading this table live" while the store keeps its
        own commit protocol.  Mirror exports are post-commit and
        best-effort: a failure never un-commits the flush; it lands
        in ``engine.last_mirror_error`` and the next flush heals the
        mirror with a refresh commit.  The registration is
        engine-local (not persisted in the manifest) — re-register
        after reopen.  ``bridge_iceberg=True`` runs the continuous
        UniForm loop: after the initial commit the destination is
        ALSO converted to Iceberg (``convert_delta_to_iceberg``) and
        every later mirror flush folds its Delta commits into
        incremental Iceberg snapshots (``sync_delta_to_iceberg``) —
        one table directory, both formats always current.  Deletion
        vectors flow THROUGH the bridge (r17): a DV delete flush
        commits O(deleted rows) on the Delta side and folds as an
        Iceberg merge-on-read position-delete snapshot on the other —
        no file rewrite on either rung.  Returns the initial export
        report; when that export raises, no mirror is registered."""
        return self._mirror("delta", table, {
            "dest": dest, "dv": bool(deletion_vectors),
            "allow_decrypted": bool(allow_decrypted),
            "change_data": bool(change_data),
            "bridge": bool(bridge_iceberg)})

    def unmirror_delta(self, table: str) -> bool:
        """Stop auto-exporting ``table`` (the destination keeps its
        committed versions).  True if a mirror was registered."""
        return self._mirrors.pop(("delta", self._resolve(table)),
                                 None) is not None

    def apply_cdf(self, table: str, path: str,
                  to_version: Optional[int] = None,
                  from_version: Optional[int] = None,
                  cursor: bool = True, where=None,
                  on_refuse: str = "raise") -> dict:
        """Subscribe a store table to an external Delta table's CHANGE
        DATA FEED: read the feed from the commit after the last one
        applied (tracked in a KV cursor — KV serializes inside the
        warehouse manifest, so the cursor and the applied rows commit
        in ONE atomic CAS at the next flush: the exactly-once ingest
        composition, same design as the streaming ledger), NET it per
        row multiset (a row inserted then deleted across the range
        never touches the table; update_preimage/postimage count as
        delete/insert), and apply via ``apply_changes``.  Cost ∝ the
        range's change files — never a snapshot diff.

        ``from_version`` seeds the FIRST call for a consumer that
        bootstrapped from an existing snapshot (e.g.
        ``read_delta`` at version N → ``from_version=N+1``);
        without it the first call BOOTSTRAPS by reading the target
        snapshot directly as inserts — O(current state), never an
        O(history) replay, and correct even across checkpoint-
        truncated logs.
        ``where`` (the engine predicate language) makes the
        subscription FILTERED: only matching change rows apply, and
        derivable append commits prune their files by log stats
        before being read — a key-range replica never downloads
        unrelated changes.  A consistent filtered replica requires
        the SAME where on every pull — the cursor records the
        filter's signature and a pull under a CHANGED where raises
        instead of silently diverging the replica.
        The cursor-less bootstrap requires an EMPTY consumer table
        (checked — pure-insert bootstrap cannot remove rows a
        non-empty target holds); seed ``from_version`` to resume a
        pre-populated consumer.
        ``on_refuse="rebootstrap"`` (r17; default ``"raise"``): a
        CURSORED pull whose range the feed cannot derive (vacuumed /
        checkpoint-truncated commits, underivable rewrites) RECOVERS
        instead of raising — the target snapshot nets against the
        replica (two ``exceptAll`` passes, the exact ``table_diff``
        shape) and the cursor resumes at HEAD.  O(state), not
        O(history); cursor-signature (changed-where) errors still
        raise — those are consumer bugs, not history divergence.
        Returns ``{"applied", "from_version", "to_version"}`` —
        ``from_version`` is the range start actually folded (the
        first log version on bootstrap)."""
        return self._subscribe(_delta_feed, table, path, to_version,
                               from_version, cursor, where, on_refuse)

    def _subscribe(self, feed_of, table: str, path: str, to, seed,
                   cursor: bool, where, on_refuse: str) -> dict:
        """The one subscription body behind ``apply_cdf`` and
        ``apply_iceberg_changes``; ``feed_of(spark, path)`` gives the
        format's facts (``_Feed``)."""
        from pyspark.sql import functions as F
        if on_refuse not in ("raise", "rebootstrap"):
            raise ValueError(
                f"on_refuse must be 'raise'|'rebootstrap', "
                f"got {on_refuse!r}")
        p = local_path(path)
        feed = feed_of(self.spark, p)
        explicit = to is not None
        to = int(to) if explicit else feed.head
        ckey = (f"{feed.prefix}:{self._space}:{table}:"
                f"{os.path.abspath(p)}")
        wsig = self._where_sig(where)
        last = self._cursor_read(ckey, wsig) if cursor else None
        if last is not None:
            frm = int(last) + 1 if feed.inclusive else int(last)
        else:
            frm = None if seed is None else int(seed)      # None: bootstrap
        if frm is not None and (frm > to if feed.inclusive else frm == to):
            return {"applied": 0, feed.keys[0]: frm, feed.keys[1]: to}
        if frm is None:
            # BOOTSTRAP fast path: the netted replay of every commit up
            # to ``to`` IS the snapshot's live state — read it directly
            # as inserts.  O(current state) instead of O(history),
            # correct across truncated logs, expired parents and
            # rewrites the feed refuses to derive, and ``where=``
            # prunes files through the same stats.  Pure-insert
            # bootstrap equals the netted full replay ONLY when the
            # consumer starts EMPTY (a replay would also delete
            # historically-removed rows already present in a non-empty
            # target) — the precondition is CHECKED, not assumed.
            self._require_empty_bootstrap_target(table, feed.keys[0])
            rows = (feed.snapshot(to, explicit, where)
                    .withColumn("_change_type", F.lit("insert")))
            frm = feed.origin(to)
        else:
            try:
                rows = feed.changes(frm, to, where)
            except ValueError:
                if on_refuse != "rebootstrap":
                    raise
                rows = self._rebootstrap_diff_feed(
                    table, feed.snapshot(to, explicit, where))
        n = self._apply_net_feed(table, rows)
        if cursor:
            self._cursor_write(ckey, int(to), wsig)
        return {"applied": int(n), feed.keys[0]: frm, feed.keys[1]: to}

    def _mirror(self, fmt: str, table: str, cfg: dict) -> dict:
        """Register a ``fmt`` mirror of ``table`` once its first export
        ran — the same hook every later flush runs — so a mirror whose
        first export fails is never registered."""
        cfg = {"fmt": fmt, **cfg}
        rep = self._mirror_flush(table, cfg)
        self._mirrors[(fmt, self._resolve(table))] = cfg
        return rep

    def _mirror_flush(self, table: str, cfg: dict) -> dict:
        """The one mirror hook: the next incremental commit of
        ``table`` to ``cfg["dest"]``, then (``bridge``) the fold of that
        commit into the other format's metadata in the same directory,
        converting it on the first run."""
        if cfg["fmt"] == "delta":
            from tostore_spark.plans.delta_export import export_delta
            # change_data only matters on the first commit: once the
            # table property is set every update maintains the feed
            rep = export_delta(self, table, cfg["dest"], mode="update",
                               deletion_vectors=cfg["dv"],
                               allow_decrypted=cfg["allow_decrypted"],
                               change_data=cfg["change_data"])
        else:
            from tostore_spark.plans.iceberg import export_iceberg
            # a Delta-bridged mirror needs position deletes, the only
            # kind Delta deletion vectors can express
            rep = export_iceberg(self, table, cfg["dest"], mode="update",
                                 allow_decrypted=cfg["allow_decrypted"],
                                 delete_route="position" if cfg["bridge"]
                                 else "auto")
        if not cfg["bridge"]:
            return rep
        p = local_path(cfg["dest"])
        if cfg["fmt"] == "delta":
            from tostore_spark.plans import iceberg as ice
            try:
                bridged = ice._BRIDGE_PROP in (
                    ice._load_metadata(p).get("properties") or {})
            except Exception:
                bridged = False
            step = (ice.sync_delta_to_iceberg if bridged
                    else ice.convert_delta_to_iceberg)
        else:
            from tostore_spark.plans import xtable
            log_dir = os.path.join(p, "_delta_log")
            step = (xtable.sync_iceberg_to_delta
                    if os.path.isdir(log_dir) and os.listdir(log_dir)
                    else xtable.convert_iceberg_to_delta)
        rep["bridge"] = step(self.spark, p)
        return rep

    def _rebootstrap_diff_feed(self, table: str, target_df):
        """Recovery feed for ``on_refuse="rebootstrap"``: NET the
        source's current (filtered) state against the replica — two
        ``exceptAll`` passes, the exact ``table_diff`` fallback shape.
        Exact at multiset granularity and O(state), never O(history);
        a schema drift between replica and source still raises (the
        consumer must migrate first)."""
        from pyspark.sql import functions as F
        cur = self.df(table)
        cols = sorted(cur.columns)
        if sorted(target_df.columns) != cols:
            raise ValueError(
                f"rebootstrap column mismatch: replica {cols} vs "
                f"source {sorted(target_df.columns)} — migrate the "
                "consumer schema, then retry")
        cur = cur.select(*cols)
        tgt = target_df.select(*cols)
        ins = (tgt.exceptAll(cur)
               .withColumn("_change_type", F.lit("insert")))
        dele = (cur.exceptAll(tgt)
                .withColumn("_change_type", F.lit("delete")))
        return ins.unionByName(dele)

    def _require_empty_bootstrap_target(self, table: str,
                                        seed_param: str) -> None:
        """The cursor-less bootstrap fast path applies the source
        snapshot as PURE INSERTS — equivalent to the netted full
        replay only over an empty consumer table.  Shared guard for
        ``apply_cdf`` / ``apply_iceberg_changes``: metadata-count
        first (zero Spark jobs on a clean table), an ``isEmpty``
        probe otherwise."""
        n0 = self.stats_count(table)
        empty = (n0 == 0) if n0 is not None \
            else self.df(table).isEmpty()
        if not empty:
            raise ValueError(
                f"bootstrap requires an EMPTY consumer table, but "
                f"{table!r} has rows — pure-insert bootstrap would "
                "leave historically-deleted rows in place.  Resume "
                f"with {seed_param}= (the snapshot the table was "
                "bootstrapped from), or clear the table first")

    def _where_sig(self, where) -> Optional[str]:
        """Stable signature of a subscription filter (ConditionNode
        plain-map IR, sha256-prefixed) — None for unfiltered."""
        import hashlib
        import json as _json

        from tostore_spark.condition import to_condition_node
        node = to_condition_node(where)
        if node is None or node.is_empty():
            return None
        return hashlib.sha256(
            _json.dumps(node.simplify().to_map(), sort_keys=True,
                        default=str).encode()).hexdigest()[:16]

    def _cursor_read(self, ckey: str, wsig: Optional[str]):
        """Read a subscription cursor, REFUSING a filter change: the
        cursor records the where-signature it was written under, and
        resuming it with a different filter would silently diverge
        the replica (rows matching only the old filter stay stale
        forever).  Returns the cursor value or None."""
        raw = self.kv.get_value(ckey)
        if raw is None:
            return None
        if isinstance(raw, dict) and "v" in raw:
            if raw.get("w") != wsig:
                raise ValueError(
                    "subscription filter changed: the cursor for "
                    f"{ckey!r} was written under a different where — "
                    "resume with the original filter, or rebuild the "
                    "consumer (clear the table and cursor, or pass "
                    "cursor=False for a one-off pull)")
            return raw["v"]
        # pre-filter-hash integer cursor: only an UNFILTERED
        # subscription may resume it (a legacy filtered cursor is
        # indistinguishable from an unfiltered one)
        if wsig is not None:
            raise ValueError(
                f"cursor {ckey!r} predates filter hashing — clear it "
                "(or pass cursor=False) before resuming a FILTERED "
                "subscription")
        return raw

    def _cursor_write(self, ckey: str, value,
                      wsig: Optional[str]) -> None:
        self.kv.set_value(ckey, {"v": value, "w": wsig})

    def _apply_net_feed(self, table: str, feed) -> int:
        """NET a change feed per row multiset (a row inserted then
        deleted across the range never touches the table;
        update_preimage/postimage count as delete/insert) and apply
        via ``apply_changes`` — the shared fold behind ``apply_cdf``
        (Delta) and ``apply_iceberg_changes``."""
        from pyspark.sql import functions as F
        cols = [c for c in feed.columns
                if c not in ("_change_type", "_commit_version",
                             "_commit_timestamp",
                             "_commit_snapshot_id")]
        sign = (F.when(F.col("_change_type")
                       .isin("insert", "update_postimage"), F.lit(1))
                .when(F.col("_change_type")
                      .isin("delete", "update_preimage"), F.lit(-1)))
        bad = (feed.filter(sign.isNull())
               .select("_change_type").limit(1).collect())
        if bad:
            raise ValueError(
                f"unknown _change_type {bad[0][0]!r} in the feed — "
                "silently dropping it would corrupt the net change")
        net = (feed.withColumn("__s", sign)
               .groupBy(*cols).agg(F.sum("__s").alias("__c"))
               .filter(F.col("__c") != 0))
        changes = (net
                   .withColumn("change",
                               F.when(F.col("__c") > 0,
                                      F.lit("insert"))
                               .otherwise(F.lit("delete")))
                   .withColumn("__x", F.explode(F.expr(
                       "sequence(1, abs(__c))")))
                   .select(*cols, "change"))
        return int(self.apply_changes(table, changes))

    def start_cdf_sync(self, table: str, path: str,
                       interval_s: float = 5.0,
                       from_version: Optional[int] = None,
                       where=None) -> None:
        """Continuously replicate an external Delta table's CHANGE
        DATA FEED into ``table``: a daemon thread polls the feed every
        ``interval_s`` and applies new commits via ``apply_cdf``
        (KV-cursor exactly-once, netting across each pull) — live
        replication FROM a foreign writer, the consumer twin of
        ``mirror_delta``.  Poll errors land on
        ``engine.last_cdf_sync_error`` and polling continues (a
        transient reader failure must not kill replication).  One sync
        per (table, path); ``stop_cdf_sync()`` ends it.  The applied
        rows become durable at this engine's next flush, atomically
        with the cursor."""
        # the seed is passed EVERY tick: apply_cdf prefers the KV
        # cursor once one exists, and a tick that applied nothing must
        # not burn the seed (the next tick would fall back to the
        # earliest commit and re-apply the bootstrap snapshot)
        self._start_sync("cdf", table, path, interval_s,
                         lambda: self.apply_cdf(table, path,
                                                from_version=from_version,
                                                where=where))

    def stop_cdf_sync(self, table: Optional[str] = None,
                      path: Optional[str] = None) -> int:
        """Stop CDF sync daemons — the one for (table, path), all for
        ``table``, or all.  Returns the number stopped."""
        return self._stop_sync("cdf", table, path)

    def mirror_iceberg(self, table: str, dest: str,
                       allow_decrypted: bool = False,
                       bridge_delta: bool = False) -> dict:
        """Continuously materialize ``table`` as an Iceberg v2 table —
        the Iceberg twin of ``mirror_delta``: an initial snapshot runs
        now, and EVERY subsequent ``flush()`` auto-commits the next
        incremental snapshot (appends as add-only, deletes as
        merge-on-read position-delete files, anything else as an
        overwrite snapshot).  Post-commit and best-effort: a mirror
        failure never un-commits the flush; it lands in
        ``engine.last_mirror_error`` and the next flush heals with an
        overwrite snapshot.  Engine-local (re-register after reopen).

        ``bridge_delta=True`` runs the continuous REVERSE bridge
        (plans/xtable): after the initial snapshot the destination is
        ALSO converted to Delta (``convert_iceberg_to_delta``) and
        every later mirror flush folds its snapshots into incremental
        Delta commits (``sync_iceberg_to_delta``) — one directory,
        both formats always current, the mirror twin of
        ``mirror_delta(bridge_iceberg=True)``.  Pure-delete flushes
        then take the POSITION-delete route (not equality deletes —
        the only kind Delta deletion vectors can express), trading
        the eqdel tier's zero-probe write for bridgeability.  Returns
        the initial export report; when that export raises, no mirror
        is registered."""
        return self._mirror("iceberg", table, {
            "dest": dest, "allow_decrypted": bool(allow_decrypted),
            "bridge": bool(bridge_delta)})

    def unmirror_iceberg(self, table: str) -> bool:
        """Stop auto-exporting ``table`` to its Iceberg mirror (the
        destination keeps its snapshots)."""
        return self._mirrors.pop(("iceberg", self._resolve(table)),
                                 None) is not None

    def apply_iceberg_changes(self, table: str, path: str,
                              to_snapshot: Optional[int] = None,
                              from_snapshot: Optional[int] = None,
                              cursor: bool = True,
                              where=None,
                              on_refuse: str = "raise") -> dict:
        """Subscribe a store table to an external Iceberg table's
        changelog — the Iceberg twin of ``apply_cdf``: fold the
        changes AFTER the last applied snapshot (KV cursor — cursor
        and applied rows commit in ONE atomic CAS at the next flush),
        NET them per row multiset, and apply via ``apply_changes``.

        ``from_snapshot`` (exclusive) seeds the FIRST call for a
        consumer that bootstrapped from an existing snapshot
        (``read_iceberg(snapshot_id=N)`` → ``from_snapshot=N``);
        without it the first call BOOTSTRAPS by reading the target
        snapshot directly as inserts — O(current state), never an
        O(history) fold, and it works across rewrites the changelog
        refuses to derive.  ``where`` makes the subscription FILTERED —
        matching change rows only, derivable appends pruned by
        manifest bounds; keep it IDENTICAL across pulls — the cursor
        records the filter's signature and a pull under a CHANGED
        where raises instead of silently diverging the replica.
        The cursor-less bootstrap requires an EMPTY consumer table
        (checked — pure-insert bootstrap cannot remove rows a
        non-empty target holds); seed ``from_snapshot`` to resume a
        pre-populated consumer.
        ``on_refuse="rebootstrap"`` (r17; default ``"raise"``): a
        CURSORED pull whose range the changelog cannot derive
        (rewrites/refreshes, expired parents) RECOVERS — the target
        snapshot nets against the replica (two ``exceptAll`` passes)
        and the cursor resumes at HEAD.  O(state), not O(history).
        Returns ``{"applied", "from_snapshot", "to_snapshot"}`` —
        ``from_snapshot`` is the range start actually folded (the
        ancestry-root snapshot on bootstrap, matching the Delta
        twin's ``versions[0]``)."""
        return self._subscribe(_iceberg_feed, table, path, to_snapshot,
                               from_snapshot, cursor, where, on_refuse)

    def start_iceberg_sync(self, table: str, path: str,
                           interval_s: float = 5.0,
                           from_snapshot: Optional[int] = None,
                           where=None) -> None:
        """Continuously replicate an external Iceberg table's
        changelog into ``table`` — the Iceberg twin of
        ``start_cdf_sync``: a daemon thread polls every ``interval_s``
        and applies new snapshots via ``apply_iceberg_changes``
        (KV-cursor exactly-once, netting per pull).  Poll errors land
        on ``engine.last_iceberg_sync_error`` and polling continues.
        One sync per (table, path); ``stop_iceberg_sync()`` ends
        it."""
        # the seed passes EVERY tick, as in start_cdf_sync
        self._start_sync("iceberg", table, path, interval_s,
                         lambda: self.apply_iceberg_changes(
                             table, path, from_snapshot=from_snapshot,
                             where=where))

    def stop_iceberg_sync(self, table: Optional[str] = None,
                          path: Optional[str] = None) -> int:
        """Stop Iceberg changelog sync daemons — the one for (table,
        path), all for ``table``, or all.  Returns the number
        stopped."""
        return self._stop_sync("iceberg", table, path)

    def _start_sync(self, kind: str, table: str, path: str,
                    interval_s: float, apply) -> None:
        """Shared body of start_cdf_sync / start_iceberg_sync: a daemon
        thread calls ``apply()`` every ``interval_s``.  Errors land on
        ``last_<kind>_sync_error`` and polling continues (a transient
        reader failure must not kill replication)."""
        import threading

        self._stop_sync(kind, table, path)
        err = f"last_{kind}_sync_error"
        setattr(self, err, None)
        key = (kind, self._resolve(table),
               os.path.abspath(local_path(path)))
        stop = threading.Event()

        def _loop():
            while not stop.wait(interval_s):
                try:
                    apply()
                    setattr(self, err, None)
                except Exception as exc:   # pragma: no cover - timing
                    setattr(self, err, (table, str(exc)))

        t = threading.Thread(target=_loop, daemon=True,
                             name=f"{kind}-sync-{key[1][1]}")
        self._syncs[key] = (stop, t)
        t.start()

    def _stop_sync(self, kind: str, table: Optional[str],
                   path: Optional[str]) -> int:
        """Shared body of stop_cdf_sync / stop_iceberg_sync: stop the
        ``kind`` daemons for (table, path), all for ``table``, or all.
        Returns the number stopped."""
        tkey = None if table is None else self._resolve(table)
        pabs = None if table is None or path is None \
            else os.path.abspath(local_path(path))
        doomed = [k for k in self._syncs if k[0] == kind
                  and tkey in (None, k[1]) and pabs in (None, k[2])]
        for k in doomed:
            self._syncs.pop(k)[0].set()
        return len(doomed)

    def unpin_versions(self) -> int:
        """Release every version pinned by ``df_at`` so vacuum may prune
        them; any still-live time-travel frame over a pruned version will
        fail on its next action.  Returns the number of pins released."""
        n = len(self._pinned_versions)
        self._pinned_versions.clear()
        return n

    def table_versions(self, table: str) -> list[int]:
        """Flushed generations on disk for a table (ascending)."""
        from tostore_spark import store as _store
        return _store.list_versions(self, table, space=self._resolve(table)[0])

    def df_at(self, table: str, version: int) -> DataFrame:
        """Time-travel read: the table as of flushed generation
        ``version`` (history persists until vacuum())."""
        from tostore_spark import store as _store
        return _store.read_version(self, table, version,
                                   space=self._resolve(table)[0])

    def close(self, keep_active_space: bool = True) -> None:
        """Release engine-held resources: result cache, vector indexes,
        watchers; with keep_active_space=False, drop every table outside
        the current space too (tostore.dart:1046)."""
        if getattr(self, "_query_cache", None):
            self._query_cache.clear()
        if hasattr(self, "_vector_indexes"):
            self._vector_indexes.clear()
        if hasattr(self, "_watchers"):
            self._watchers.clear()
        self.stop_remote_watch()
        if not keep_active_space:
            for key in [k for k in self._tables
                        if k[0] not in (self._space, "global")]:
                del self._tables[key]
                self._generations.pop(key, None)
                self._append_deltas.pop(key, None)
                self._delete_deltas.pop(key, None)

    def delete_database(self) -> None:
        """Drop everything: all spaces, tables, KV state, caches
        (tostore.dart:1069)."""
        self._tables.clear()
        self._generations.clear()
        self._append_deltas.clear()
        self._delete_deltas.clear()
        if hasattr(self, "_kv"):
            self._kv.restore({})
        if hasattr(self, "_spaces"):
            self._spaces = {"default"}
        self._space = "default"
        self.close()

    @property
    def status(self) -> dict:
        """Unified diagnostics (tostore.dart:1168 DbStatus)."""
        cache = getattr(self, "_query_cache", None)
        return {
            "current_space": self._space,
            "spaces": self.list_spaces(),
            "tables": self.table_names(),
            "generations": {f"{sp}.{n}": g
                            for (sp, n), g in self._generations.items()},
            "query_cache": ({"hits": cache.hits, "misses": cache.misses}
                            if cache else None),
            "vector_indexes": sorted(
                ".".join(str(p) for p in key)
                for key in getattr(self, "_vector_indexes", {})),
            "migration_tasks": len(getattr(self, "_migration_tasks", {})),
            "version": self.get_version(),
        }

    @property
    def config(self) -> dict:
        return {
            "default_query_limit": self.default_query_limit,
            "max_query_offset": self.max_query_offset,
            "eager_mutation_counts": self.eager_mutation_counts,
            "space": self._space,
        }

    @property
    def instance_path(self) -> Optional[str]:
        return getattr(self, "_data_dir", None)

    # ---- query --------------------------------------------------------
    def query(self, table: str) -> QueryBuilder:
        return QueryBuilder(self, table)

    def stream_query(self, table: str) -> QueryBuilder:
        """Chainable per-record pull stream (tostore.dart:427): same chain
        as query(); terminal .stream() iterates partition-by-partition."""
        return QueryBuilder(self, table)

    def update_schema(self, table: str):
        """Name-parity alias for schema_builder (tostore.dart:1098)."""
        return self.schema_builder(table)

    @property
    def query_cache(self):
        """Result cache w/ generation invalidation (query_executor.dart:
        34-50); enabled by default like the reference's 50MB TreeCache."""
        if not hasattr(self, "_query_cache"):
            from tostore_spark.plans.query_cache import QueryResultCache
            self._query_cache = QueryResultCache()
        return self._query_cache

    def enable_query_cache(self, enabled: bool = True,
                           max_bytes: int = 50 * 1024 * 1024) -> None:
        from tostore_spark.plans.query_cache import QueryResultCache
        self._query_cache = QueryResultCache(max_bytes=max_bytes) if enabled else None

    def sql(self, text: str) -> DataFrame:
        """Escape hatch: register current tables as temp views and run SQL.
        Inside a serializable transaction every visible table is recorded
        as a WHOLE-TABLE read (the SQL text could reference any of the
        views) — the same read-set discipline as raw ``df()``."""
        for (sp, n), ent in self._tables.items():
            if sp in (self._space, "global"):
                if getattr(self, "_txn_read_versions", None) is not None:
                    self._df_at_key((sp, n))     # record the read
                ent["df"].createOrReplaceTempView(n)
        return self.spark.sql(text)

    # ---- writes (write.py) --------------------------------------------
    def insert(self, table: str, data: dict) -> None:
        from tostore_spark import write
        write.insert(self, table, [data])

    def batch_insert(self, table: str, rows: list[dict],
                     allow_partial_errors: bool = False):
        """Batch insert; with allow_partial_errors good rows are accepted
        and bad rows come back in the BatchResult error manifest
        (data_store_impl.dart:3968+)."""
        from tostore_spark import write
        return write.insert(self, table, rows,
                            allow_partial_errors=allow_partial_errors)

    def update(self, table: str, data: Optional[dict] = None):
        """Update builder; optional initial payload accumulates until
        execute() (tostore.dart:562-568)."""
        from tostore_spark.write import UpdateBuilder
        return UpdateBuilder(self, table, data)

    def delete(self, table: str):
        from tostore_spark.write import DeleteBuilder
        return DeleteBuilder(self, table)

    def upsert(self, table: str, data: dict) -> None:
        from tostore_spark import write
        write.upsert(self, table, [data])

    def batch_upsert(self, table: str, rows: list[dict], exprs=None) -> None:
        from tostore_spark import write
        write.upsert(self, table, rows, exprs=exprs)

    def batch_update(self, table: str, rows: list[dict],
                     continue_on_partial_errors: bool = False) -> int:
        """Partial update per record carrying its PK (batchUpdate,
        data_store_impl.dart:4907+)."""
        from tostore_spark import write
        return write.batch_update(
            self, table, rows,
            continue_on_partial_errors=continue_on_partial_errors)

    # ---- transactions (transaction.py) --------------------------------
    def transaction(self, action=None, rollback_on_error: bool = True,
                    retries: Optional[int] = None,
                    isolation: str = "snapshot"):
        """Atomic multi-write scope (tostore.dart:860-868): context-manager
        form when called without an action, callback form otherwise.
        With ``retries`` (warehouse engines only) the callback commits via
        flush and auto-retries concurrent-writer losses on a refreshed
        snapshot — the optimistic analog of the reference's SSI retry
        (transaction_manager.dart:17-50).  ``isolation='serializable'``
        (with ``retries``) additionally tracks the action's READ-set at
        (table, manifest-version) granularity and aborts the later
        committer on write-skew (see transaction.py)."""
        from tostore_spark import transaction as tx
        if action is None:
            if retries is not None:
                raise ValueError(
                    "retries requires the callback form: the action must "
                    "re-execute on a refreshed snapshot")
            if isolation != "snapshot":
                raise ValueError(
                    "serializable isolation requires the callback-with-"
                    "retries form: the read-set validates at the flush "
                    "commit point")
            return tx.transaction(self, rollback_on_error=rollback_on_error)
        if retries is not None:
            return tx.run_transaction_with_retry(
                self, action, retries=retries,
                rollback_on_error=rollback_on_error, isolation=isolation)
        if isolation != "snapshot":
            raise ValueError(
                "serializable isolation requires retries= (the flush "
                "commit point): transaction(action, retries=N, "
                "isolation='serializable')")
        return tx.run_transaction(self, action, rollback_on_error=rollback_on_error)

    # ---- schema evolution / backup / batch export ---------------------
    def schema_builder(self, table: str):
        """Chained schema migrations (schema_builder.dart:16-258)."""
        from tostore_spark.plans.schema_builder import SchemaBuilder
        return SchemaBuilder(self, table)

    def _register_migration(self, record: dict) -> str:
        if not hasattr(self, "_migration_tasks"):
            self._migration_tasks: dict[str, dict] = {}
        task_id = f"mig_{len(self._migration_tasks) + 1}"
        record["task_id"] = task_id
        self._migration_tasks[task_id] = record
        return task_id

    def query_migration_task_status(self, task_id: str) -> Optional[dict]:
        """Migration task record or None (tostore.dart:1119; migrations run
        synchronously here, so finished tasks report 'completed')."""
        return getattr(self, "_migration_tasks", {}).get(task_id)

    def backup(self, backup_dir: str, include_global: bool = True) -> str:
        from tostore_spark import backup as bk
        return bk.backup(self, backup_dir, include_global=include_global)

    def restore(self, backup_dir: str, space: Optional[str] = None) -> list[str]:
        from tostore_spark import backup as bk
        return bk.restore(self, backup_dir, space=space)

    def query_each_batch(self, table: str, batch_size: int = 1000, **kw):
        """Resumable cursor-checkpointed batch export
        (query_executor.dart:3393-3492)."""
        from tostore_spark.plans.batch_export import query_each_batch
        return query_each_batch(self.query(table), batch_size=batch_size, **kw)

    # ---- KV namespace (kv.py) -----------------------------------------
    @property
    def kv(self):
        from tostore_spark.kv import KvStore
        if not hasattr(self, "_kv"):
            self._kv = KvStore(self)
        return self._kv

    # facade-level KV methods, name-for-name with the reference
    # (tostore.dart:706-803) — thin delegates to the KvStore
    def set_value(self, key: str, value, is_global: bool = False,
                  ttl_ms: Optional[int] = None):
        return self.kv.set_value(key, value, is_global=is_global,
                                 ttl_ms=ttl_ms)

    def get_value(self, key: str, is_global: bool = False):
        return self.kv.get_value(key, is_global=is_global)

    def remove_value(self, key: str, is_global: bool = False):
        return self.kv.remove_value(key, is_global=is_global)

    def watch_value(self, key: str, callback, is_global: bool = False,
                    **kw):
        return self.kv.watch_value(key, callback, is_global=is_global, **kw)

    def watch_values(self, keys: list[str], callback,
                     is_global: bool = False, **kw):
        return self.kv.watch_values(keys, callback, is_global=is_global,
                                    **kw)

    @classmethod
    def initialize(cls, spark: SparkSession, **kw) -> "ToStoreSpark":
        """Name parity with the reference's async factory
        (tostore.dart initialize); construction here is synchronous."""
        return cls(spark, **kw)

    # ---- vector search (vector.py) ------------------------------------
    def build_vector_index(self, table: str, field_name: str,
                           n_cells: int = 16, path: Optional[str] = None,
                           id_field: Optional[str] = None,
                           centroids=None) -> str:
        """Build-once IVF index for a vector field (the reference's
        persisted NGH build lifecycle, ngh_graph_engine.dart:14-80):
        deterministic spherical-k-means centroids, corpus written out
        partitioned by cell_id, registered so subsequent vector_search
        calls probe the index instead of rescanning the table.
        ``centroids`` overrides the trained geometry with a caller-fixed
        one (e.g. ``similarity.fixed_centroids``) for reproducible cell
        assignment across engines."""
        import tempfile

        from tostore_spark.llmops import similarity as sim
        id_field = id_field or self.primary_key(table) \
            or self.df(table).columns[0]
        if path is None:
            path = tempfile.mkdtemp(prefix=f"ivf_{table}_{field_name}_")
        indexed, cents = sim.ivf_build(self.df(table), n_cells=n_cells,
                                       vec_field=field_name, id_field=id_field,
                                       centroids=centroids)
        sim.ivf_write_index(indexed, cents, path, id_field=id_field)
        cells_df, _ = sim.ivf_read_index(self.spark, path)
        n_rows = cells_df.count()   # parquet-footer count; powers efSearch->nprobe
        sim.ivf_update_meta(path, n_rows=n_rows)
        if not hasattr(self, "_vector_indexes"):
            self._vector_indexes: dict[tuple, dict] = {}
        self._vector_indexes[(self._space, table, field_name)] = {
            "path": path, "centroids": cents, "df": cells_df,
            "n_cells": len(cents), "id_field": id_field,
            "n_rows": n_rows,
            "generation": self.generation(table),
        }
        return path

    def load_vector_index(self, table: str, field_name: str, path: str,
                          id_field: Optional[str] = None) -> None:
        """Attach a previously persisted IVF index (search-many side of the
        build-once lifecycle)."""
        from tostore_spark.llmops import similarity as sim
        cells_df, cents = sim.ivf_read_index(self.spark, path)
        meta = sim.ivf_index_meta(path)
        n_rows = meta.get("n_rows")
        if not n_rows:
            # index written by a direct ivf_write_index caller without
            # n_rows: count once (parquet-footer job) and backfill, so
            # ef_search is never silently ignored
            n_rows = cells_df.count()
            sim.ivf_update_meta(path, n_rows=n_rows)
        if not hasattr(self, "_vector_indexes"):
            self._vector_indexes = {}
        self._vector_indexes[(self._space, table, field_name)] = {
            "path": path, "centroids": cents, "df": cells_df,
            "n_cells": len(cents),
            "id_field": id_field or self.primary_key(table)
            or cells_df.columns[0],
            "n_rows": n_rows,
            "generation": self.generation(table),
        }

    def vector_search(self, table: str, field_name: str, query_vector,
                      top_k: int = 10, metric: str = "cosine",
                      distance_threshold: Optional[float] = None,
                      ef_search: Optional[int] = None,
                      use_index: Optional[bool] = None,
                      nprobe: int = 2) -> DataFrame:
        """Scored top-k (tostore.dart:493-511).  When an IVF index has been
        built for (table, field) and the metric is cosine, the search probes
        the persisted index (approximate, rebuild-free) unless
        ``use_index=False``; a stale index (table written since build)
        silently falls back to the exact scan.  ``ef_search`` (the
        reference's candidate-pool knob, ngh_graph_engine.dart:14-80) maps
        to nprobe via ``ef_search_to_nprobe`` — probe enough cells to scan
        ~efSearch vectors — and overrides ``nprobe`` when given."""
        from tostore_spark.vector import vector_search
        idx = getattr(self, "_vector_indexes", {}).get(
            (self._space, table, field_name))
        fresh = idx is not None and idx["generation"] == self.generation(table)
        if use_index is None:
            use_index = fresh and metric == "cosine"
        if use_index:
            if not fresh or metric != "cosine":
                raise ValueError(
                    "no fresh cosine IVF index for "
                    f"({table}, {field_name}); build_vector_index first")
            from tostore_spark.llmops import similarity as sim
            if ef_search is not None and idx.get("n_rows"):
                nprobe = sim.ef_search_to_nprobe(
                    ef_search, len(idx["centroids"]), idx["n_rows"])
            out = sim.ivf_search(idx["df"], idx["centroids"], query_vector,
                                 k=top_k, nprobe=nprobe,
                                 vec_field=field_name,
                                 id_field=idx["id_field"])
            if distance_threshold is not None:
                out = out.filter(
                    out["distance"] <= float(distance_threshold))
            return out
        return vector_search(self.df(table), field_name, query_vector,
                             top_k=top_k, metric=metric,
                             distance_threshold=distance_threshold,
                             pk=self.primary_key(table))

    def vector_index_recall(self, table: str, field_name: str,
                            k: int = 10, nprobe: int = 2,
                            ef_search: Optional[int] = None,
                            n_queries: int = 50) -> float:
        """MEASURED recall@k of the registered IVF index against the
        exact brute-force baseline, on this table's own vectors — run it
        after a build or append at any scale instead of extrapolating
        from test-size corpora."""
        from tostore_spark.llmops import similarity as sim
        idx = getattr(self, "_vector_indexes", {}).get(
            (self._space, table, field_name))
        if idx is None or idx["generation"] != self.generation(table):
            raise ValueError(
                f"no fresh IVF index for ({table}, {field_name})")
        if ef_search is not None and idx.get("n_rows"):
            nprobe = sim.ef_search_to_nprobe(
                ef_search, len(idx["centroids"]), idx["n_rows"])
        return sim.ivf_measure_recall(
            idx["df"], idx["centroids"], k=k, nprobe=nprobe,
            n_queries=n_queries, vec_field=field_name,
            id_field=idx["id_field"])

    def vector_search_many(self, table: str, field_name: str,
                           queries: DataFrame, top_k: int = 10,
                           query_vec: Optional[str] = None,
                           query_id: Optional[str] = None,
                           ef_search: Optional[int] = None,
                           use_index: Optional[bool] = None,
                           nprobe: int = 2,
                           exclude_self: bool = False) -> DataFrame:
        """Batch top-k for a whole DataFrame of query vectors in ONE
        distributed plan — (query_id, neighbor_id, distance, rank) rows.

        The reference's search API takes one vector per call
        (tostore.dart:493-511); an eval/dedup pipeline at scale queries in
        the thousands, which would loop driver-side.  When a fresh cosine
        IVF index exists the probe side joins the cell_id-partitioned
        index (approximate, partition-pruned — ``ivf_search_many``);
        otherwise the exact broadcast ``knn_join`` baseline runs.
        ``ef_search`` maps to nprobe exactly as in ``vector_search``."""
        from tostore_spark.llmops import similarity as sim
        idx = getattr(self, "_vector_indexes", {}).get(
            (self._space, table, field_name))
        fresh = idx is not None and idx["generation"] == self.generation(table)
        if use_index is None:
            use_index = fresh
        if use_index:
            if not fresh:
                raise ValueError(
                    "no fresh cosine IVF index for "
                    f"({table}, {field_name}); build_vector_index first")
            if ef_search is not None and idx.get("n_rows"):
                nprobe = sim.ef_search_to_nprobe(
                    ef_search, len(idx["centroids"]), idx["n_rows"])
            return sim.ivf_search_many(
                idx["df"], idx["centroids"], queries, k=top_k,
                nprobe=nprobe, vec_field=field_name,
                id_field=idx["id_field"], query_vec=query_vec,
                query_id=query_id, exclude_self=exclude_self)
        pk = self.primary_key(table) or self.df(table).columns[0]
        return sim.knn_join(queries, self.df(table), k=top_k,
                            query_vec=query_vec or field_name,
                            corpus_vec=field_name,
                            query_id=query_id or pk, corpus_id=pk,
                            metric="cosine", exclude_self=exclude_self)

    # ---- graph (Vamana-lite) index facade ------------------------------
    # The reference's vectorSearch is served by its NGH graph by default
    # (ngh_graph_engine.dart:14-80); this facade gives the same
    # build-once / beam-search-many lifecycle over the batch graph.

    def build_graph_index(self, table: str, field_name: str,
                          path: Optional[str] = None,
                          id_field: Optional[str] = None,
                          n_neighbors: int = 8, n_cells: int = 16,
                          prune_alpha: Optional[float] = None,
                          refine: bool = False,
                          centroids=None) -> str:
        """Build-once Vamana-lite graph index (the reference's NGH build,
        ngh_graph_engine.dart:14-80): ``build_knn_graph`` (optionally
        ``prune_alpha``-diversified and/or ``refine``-passed — the
        pruneAlpha / construction knobs), persisted via
        ``graph_write_index`` and registered so ``graph_search`` /
        ``graph_index_recall`` beam-search it.  Maintain with
        ``similarity.graph_append`` / ``graph_delete`` /
        ``graph_compact`` against the returned path, then
        ``load_graph_index`` to refresh the registration."""
        import tempfile

        from tostore_spark.llmops import similarity as sim
        id_field = id_field or self.primary_key(table) \
            or self.df(table).columns[0]
        if path is None:
            path = tempfile.mkdtemp(prefix=f"graph_{table}_{field_name}_")
        corpus = self.df(table)
        graph, hubs = sim.build_knn_graph(
            corpus, n_neighbors=n_neighbors, n_cells=n_cells,
            vec_field=field_name, id_field=id_field,
            centroids=centroids, prune_alpha=prune_alpha)
        if refine:
            graph = sim.graph_refine(
                pin(graph, eager=True), corpus, hubs,
                n_neighbors=n_neighbors,
                alpha=prune_alpha if prune_alpha is not None else 1.2,
                vec_field=field_name, id_field=id_field)
        n_rows = corpus.count()
        sim.graph_write_index(
            graph, hubs, path, n_rows=n_rows, id_field=id_field,
            params={"n_neighbors": n_neighbors, "n_cells": n_cells,
                    "prune_alpha": prune_alpha, "refine": refine})
        self.load_graph_index(table, field_name, path, id_field=id_field)
        return path

    def load_graph_index(self, table: str, field_name: str, path: str,
                         id_field: Optional[str] = None) -> None:
        """Attach a persisted graph index (tombstones applied on read)."""
        from tostore_spark.llmops import similarity as sim
        edges, hubs, meta = sim.graph_read_index(self.spark, path)
        if not hasattr(self, "_vector_indexes"):
            self._vector_indexes = {}
        self._vector_indexes[("graph", self._space, table, field_name)] = {
            "kind": "graph", "path": path,
            "graph": pin(edges, eager=True),
            "hubs": pin(hubs, eager=True),
            "id_field": id_field or meta.get("id_field")
            or self.primary_key(table) or self.df(table).columns[0],
            "n_rows": meta.get("n_rows"),
            "generation": self.generation(table),
        }

    def _graph_index(self, table: str, field_name: str) -> dict:
        idx = getattr(self, "_vector_indexes", {}).get(
            ("graph", self._space, table, field_name))
        if idx is None or idx["generation"] != self.generation(table):
            raise ValueError(
                f"no fresh graph index for ({table}, {field_name}); "
                "build_graph_index (or load_graph_index after "
                "graph_append/graph_delete) first")
        return idx

    def graph_search(self, table: str, field_name: str, query_vector,
                     top_k: int = 10, ef_search: int = 16,
                     max_hops: int = 3,
                     distance_threshold: Optional[float] = None
                     ) -> DataFrame:
        """Beam-search the registered graph index for one query vector —
        the reference's default vectorSearch path (efSearch = the beam
        width, directly; no nprobe mapping needed).  Returns the
        table's matching rows + exact cosine ``distance`` + ``rank``,
        the same surface as the IVF-backed ``vector_search``."""
        from pyspark.sql import functions as F

        from tostore_spark.llmops import similarity as sim
        idx = self._graph_index(table, field_name)
        q = local_df(self.spark, 
            [(0, [float(x) for x in query_vector])],
            "query_id int, qv array<double>")
        hits = sim.graph_search_many(
            idx["graph"], self.df(table), q, idx["hubs"], k=top_k,
            ef=int(ef_search), max_hops=int(max_hops),
            vec_field=field_name, id_field=idx["id_field"],
            query_vec="qv", query_id="query_id")
        if distance_threshold is not None:
            hits = hits.filter(
                F.col("distance") <= float(distance_threshold))
        corpus = self.df(table)
        out = (corpus.join(
            hits.select(F.col("neighbor_id").alias(idx["id_field"]),
                        "distance", "rank"),
            on=idx["id_field"]))
        return out.orderBy(F.col("rank").asc())

    def graph_search_many(self, table: str, field_name: str,
                          queries: DataFrame, top_k: int = 10,
                          ef_search: int = 16, max_hops: int = 3,
                          query_vec: Optional[str] = None,
                          query_id: Optional[str] = None,
                          exclude_self: bool = False) -> DataFrame:
        """Batch beam search over the registered graph index: a whole
        DataFrame of query vectors in ONE fixed-hop join plan
        (similarity.graph_search_many) — (query_id, neighbor_id,
        distance, rank) rows."""
        from tostore_spark.llmops import similarity as sim
        idx = self._graph_index(table, field_name)
        return sim.graph_search_many(
            idx["graph"], self.df(table), queries, idx["hubs"],
            k=top_k, ef=int(ef_search), max_hops=int(max_hops),
            vec_field=field_name, id_field=idx["id_field"],
            query_vec=query_vec, query_id=query_id,
            exclude_self=exclude_self)

    def graph_index_append(self, table: str, field_name: str,
                           new_rows: DataFrame, n_neighbors: int = 8,
                           ef_search: int = 16, max_hops: int = 3) -> int:
        """Incremental insert into the registered graph index
        (similarity.graph_append: beam-search each new node's neighbors
        + bidirectional back-links + batch ring).  Call AFTER inserting
        the same rows into the table — the batch is anti-joined out of
        the table to form the already-indexed corpus, the index is
        appended, and the registration is refreshed AND re-stamped to
        the table's current generation, so the index is fresh and
        complete for the next search.  (The reference maintains the NGH
        index inside its write path, ngh_graph_engine.dart:14-80; the
        facade keeps table and index writes explicit but makes the
        pairing one call each.)"""
        from pyspark.sql import functions as F

        from tostore_spark.llmops import similarity as sim
        key = ("graph", self._space, table, field_name)
        idx = getattr(self, "_vector_indexes", {}).get(key)
        if idx is None:
            raise ValueError(
                f"no graph index for ({table}, {field_name}); "
                "build_graph_index first")
        id_field = idx["id_field"]
        batch = new_rows.select(F.col(id_field), F.col(field_name))
        corpus = self.df(table).join(
            batch.select(id_field), on=id_field, how="left_anti")
        n = sim.graph_append(self.spark, idx["path"], corpus,
                             batch, vec_field=field_name,
                             id_field=id_field,
                             n_neighbors=n_neighbors,
                             ef=int(ef_search), max_hops=int(max_hops))
        self.load_graph_index(table, field_name, idx["path"],
                              id_field=id_field)
        return n

    def graph_index_delete(self, table: str, field_name: str, ids) -> int:
        """Tombstone-delete ids from the registered graph index
        (similarity.graph_delete) and refresh the registration — the
        nodes stop matching immediately; ``similarity.graph_compact``
        later makes it physical.  Like ``graph_index_append``, call
        after the corresponding table delete: the refresh re-stamps the
        registration to the table's current generation."""
        from tostore_spark.llmops import similarity as sim
        key = ("graph", self._space, table, field_name)
        idx = getattr(self, "_vector_indexes", {}).get(key)
        if idx is None:
            raise ValueError(
                f"no graph index for ({table}, {field_name}); "
                "build_graph_index first")
        n = sim.graph_delete(self.spark, idx["path"], ids)
        self.load_graph_index(table, field_name, idx["path"],
                              id_field=idx["id_field"])
        return n

    def graph_index_recall(self, table: str, field_name: str,
                           k: int = 10, ef_search: int = 16,
                           max_hops: int = 3,
                           n_queries: int = 20) -> dict:
        """MEASURED recall@k AND probed fraction of the registered graph
        index on this table's own vectors (similarity.
        graph_measure_recall) — the graph twin of
        ``vector_index_recall``."""
        from tostore_spark.llmops import similarity as sim
        idx = self._graph_index(table, field_name)
        return sim.graph_measure_recall(
            idx["graph"], self.df(table), idx["hubs"], k=k,
            ef=int(ef_search), max_hops=int(max_hops),
            n_queries=n_queries, vec_field=field_name,
            id_field=idx["id_field"])
