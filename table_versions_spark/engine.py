"""VersionedEngine: the Spark-facing API of the library.

Re-implements the capabilities of the reference's write/read/rollback surface
(``spark/src/main/scala/com/gu/tableversions/spark/VersionContext.scala:29-137``,
``core/src/main/scala/com/gu/tableversions/core/VersionedMetastore.scala:41-66``)
as an idiomatic PySpark library over a transaction log (see core/log.py).

Key behavioural contracts carried over from the reference:

- ``insert`` on a partitioned table emulates Hive insert-overwrite-partition:
  partitions present in the dataset get a fresh version; untouched partitions
  keep their old version (``VersionContext.scala:34-36``; asserted in reference
  ``DatePartitionedTableLoaderSpec.scala:110-123``).
- ``insert`` on a snapshot table replaces the full table contents
  (``VersionContext.scala:75-78``; ``SnapshotTableLoaderSpec.scala:60-74``).
- ``checkout`` moves the pointer and the readable view, with zero data
  movement (``VersionedMetastore.scala:59-66``); the next insert after a
  checkout continues from head+1 (``DatePartitionedTableLoaderSpec.scala:139-148``).
- A re-added (previously removed) partition gets a *fresh* version
  (``TableVersionsSpec.scala:155-161``) — automatic here, since every insert
  generates a new version.

Scale-relevant deviations from the reference (deliberate — see SURVEY §4.2/4.3):

- No extra ``distinct().collect()`` Spark job to discover partitions
  (reference ``VersionContext.scala:95-115``, self-labelled unoptimised).
  We write once to a staging dir with ``partitionBy`` and discover partitions
  from the staging dir listing — metadata-only, no second scan of the data.
- No Hadoop FileSystem proxy / ``versioned://`` scheme rewriting
  (reference ``filesystem/VersionedFileSystem.scala``): partition subtrees are
  moved from staging into their versioned dirs with O(#partitions) renames.
- Reads resolve the commit log to an explicit list of versioned partition
  directories and hand them to one ``spark.read`` with ``basePath`` — Spark
  recovers partition columns from the ``col=val`` path segments and applies
  partition pruning (``PartitionFilters``) as if it were a plain Hive layout.
  Only partition *keys* ever reach the driver, never data rows.
"""

from __future__ import annotations

import dataclasses
import os
import threading
import uuid as _uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col as F_col, expr as F_expr

from .core.log import (
    ConcurrentWriteError,
    ConstraintViolationError,
    FileTableVersions,
    TxnAlreadyCommitted,
    UnknownCommitError,
    UnknownTableError,
    read_table_meta,
    write_table_meta,
)
from .core.metastore import TableChanges, compute_changes
from .core.model import (
    UNVERSIONED,
    AddPartitionVersion,
    AddTableVersion,
    Partition,
    PartitionedTableVersion,
    PartitionSchema,
    RemovePartition,
    SnapshotTableVersion,
    TableDefinition,
    TableName,
    TableUpdate,
    TableUpdateMetadata,
    TableVersion,
    Version,
)
from .core.paths import path_for

from .core.paths import CDC_BEFORE as _CDC_BEFORE  # noqa: E402
from .core.paths import CDC_DIR as _CDC_DIR  # noqa: E402
from .core.paths import DV_DIR as _DV_DIR  # noqa: E402
from .core.paths import cdc_before_label as _cdc_before_label  # noqa: E402
from .core.storage import DEFAULT_STORAGE, Storage

# Comparing a `_metadata.file_path`-derived dir against a raw storage path
# must survive scheme/normalization drift: Spark renders `file:/x`,
# `s3a://bucket/k`, sometimes doubled slashes, while the engine holds the
# raw configured path. Both sides are pushed through the SAME normalizer
# (scheme stripped to a leading "/", slash runs collapsed) so the
# comparison is an equi-join, never a suffix scan.
_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*:(//)?"


def _norm_path(path: str) -> str:
    import re

    return re.sub("/{2,}", "/", re.sub(_SCHEME_RE, "/", path))


def _norm_path_expr(column):
    from pyspark.sql import functions as F

    return F.regexp_replace(
        F.regexp_replace(column, _SCHEME_RE, "/"), "/{2,}", "/")


def _uri_decode_expr(column):
    """Reverse Hadoop's URI encoding of a `_metadata.file_path`-derived
    string: an on-disk dir named ``d=p%3A0`` (Hive-escaped ':') surfaces
    in file metadata as ``d=p%253A0`` ('%' re-encoded). ``url_decode``
    with '+' pre-protected (url_decode alone would turn a literal '+'
    into a space) is an exact percent-decoder, recovering the on-disk
    name. Apply ONLY to metadata-derived strings — raw storage paths may
    contain lone '%' bytes that are not valid percent sequences."""
    from pyspark.sql import functions as F

    return F.url_decode(F.regexp_replace(column, r"\+", "%2B"))

def _txn_recheck_precondition(txn: tuple, inner=None):
    """Compose a commit precondition that re-verifies the (app, version)
    idempotence token INSIDE the CAS loop: probe-then-commit alone lets a
    racing duplicate writer (zombie driver + retry) double-apply a batch.
    Raises :class:`TxnAlreadyCommitted` (carrying the winner's commit id)
    for the writer to catch and skip; delegates to ``inner`` otherwise."""
    app, version = txn

    def precondition(state):
        done = state.txn_high_water(app)
        if done is not None and done[0] >= version:
            raise TxnAlreadyCommitted(done[1])
        if inner is not None:
            inner(state)

    return precondition


_PARTITION_DIR_MARKER = "="

# Serializes _raw_partition_types() set/restore windows: the inference conf
# is session-global and interleaved windows from concurrent threads would
# re-expose the '01'→1 partition-value corruption. RLock because engine
# loads can nest (e.g. rewrite paths loading the current version mid-write).
_PARTITION_INFERENCE_LOCK = threading.RLock()


@dataclass(frozen=True)
class CommitResult:
    table_version: TableVersion
    changes: TableChanges
    commit_id: str


class VersionedEngine:
    """Versioned table store rooted at a warehouse directory.

    Layout: ``<warehouse>/<schema>/<table>/`` per SURVEY §4.3.
    """

    def __init__(self, spark: SparkSession, warehouse: str,
                 storage: Storage | None = None):
        self.spark = spark
        self.warehouse = warehouse.rstrip("/")
        # every metadata/publish filesystem touch goes through the storage
        # backend; the data plane (parquet scan/write) goes through Spark's
        # Hadoop FS layer on the same paths
        self.storage = storage if storage is not None else DEFAULT_STORAGE

    # ------------------------------------------------------------------ DDL

    def table_location(self, table: TableName) -> str:
        return os.path.join(self.warehouse, table.schema, table.name)

    def create_table(self, table: TableName | str, schema_ddl: str | None = None,
                     partition_columns: list[str] | None = None,
                     format: str | None = None, user_id: str = "unknown",
                     message: str = "init",
                     bucket_columns: list[str] | None = None,
                     bucket_count: int = 0,
                     bloom_columns: list[str] | None = None,
                     partition_derivations: dict[str, str] | None = None,
                     check_constraints: list[str] | None = None,
                     change_data_feed: bool = False,
                     ) -> TableDefinition:
        """Create + init a versioned table (idempotent).

        Replaces the reference's user-side ``CREATE EXTERNAL TABLE`` DDL +
        ``tableVersions.init`` pair (``examples/.../TableLoader.scala:29-35``,
        ``core/.../TableVersions.scala:20-24``).

        ``partition_derivations={col: sql_expr}`` (extension; Delta
        GENERATED-column shape): partition columns a writer may omit —
        insert computes them from the expression (the reference instead
        makes every writer derive the date partition by hand,
        ``examples/.../DateTime.scala:10-13``; declaring it once on the
        table removes that per-job desync hazard).

        ``check_constraints=[sql_expr, ...]`` (extension; Delta ``ADD
        CONSTRAINT CHECK``): boolean expressions every inserted row must
        satisfy (NULL passes, SQL semantics). Violations reject the whole
        commit with :class:`ConstraintViolationError` before any data
        lands — write-time data-quality gating.
        """
        if isinstance(table, str):
            table = TableName.parse(table)
        if bool(bucket_columns) != bool(bucket_count):
            raise ValueError("bucket_columns and bucket_count go together")
        if bucket_columns and not schema_ddl:
            # every bucket read surface (bucket_filter point reads, the
            # tvx reader's bucket prune, bucketed_join's empty-side frame)
            # hashes with the DECLARED column types — without a schema the
            # failures would be obscure crashes deep in the read path
            raise ValueError(
                "bucketed tables need schema_ddl: bucket hashing and "
                "bucket-pruned reads resolve column types from the "
                "declared schema")
        derivations = dict(partition_derivations or {})
        bad = set(derivations) - set(partition_columns or ())
        if bad:
            raise ValueError(
                f"partition_derivations for non-partition columns: {sorted(bad)}")
        defn = TableDefinition(
            name=table,
            location=self.table_location(table),
            partition_schema=PartitionSchema(tuple(partition_columns or ())),
            format=format or "parquet",
            schema_ddl=schema_ddl,
            bucket_columns=tuple(bucket_columns or ()),
            bucket_count=bucket_count,
            bloom_columns=tuple(bloom_columns or ()),
            partition_derivations=tuple(sorted(derivations.items())),
            check_constraints=tuple(check_constraints or ()),
            change_data_feed=change_data_feed,
        )
        self._validate_constraints(defn)
        self._validate_partition_types(defn)
        if not self.storage.exists(os.path.join(defn.location, "_meta.json")):
            write_table_meta(defn, self.storage)
        else:
            # the table already exists: create_table is idempotent, but the
            # caller must get the STORED definition back (the stored one may
            # carry column mappings, evolved schema, …) — and an explicitly
            # conflicting redeclaration must fail loudly, not silently hand
            # back an unpersisted definition that mismatches the real table
            stored = read_table_meta(defn.location, self.storage)
            clashes = [
                f"{label}: declared {dec!r} != stored {cur!r}"
                for label, given, dec, cur in [
                    ("schema_ddl", schema_ddl is not None,
                     defn.schema_ddl, stored.schema_ddl),
                    ("partition_columns", partition_columns is not None,
                     defn.partition_schema.columns,
                     stored.partition_schema.columns),
                    ("format", format is not None, defn.format,
                     stored.format),
                    ("bucket_columns", bucket_columns is not None,
                     defn.bucket_columns, stored.bucket_columns),
                    ("bucket_count", bucket_count != 0,
                     defn.bucket_count, stored.bucket_count),
                    ("bloom_columns", bloom_columns is not None,
                     defn.bloom_columns, stored.bloom_columns),
                    ("partition_derivations",
                     partition_derivations is not None,
                     defn.partition_derivations,
                     stored.partition_derivations),
                    ("check_constraints", check_constraints is not None,
                     defn.check_constraints, stored.check_constraints),
                    ("change_data_feed", change_data_feed,
                     defn.change_data_feed, stored.change_data_feed),
                ] if given and dec != cur]
            if clashes:
                raise ValueError(
                    f"{table.fully_qualified_name} already exists with a "
                    "different definition: " + "; ".join(clashes))
            defn = stored
        log = FileTableVersions(defn.location, self.storage)
        log.init(table, defn.is_snapshot, user_id, message)
        return defn

    # no float/double/binary partition columns: their directory-name
    # rendering has no cross-engine parity (Spark's Double.toString vs
    # Python's repr vs Hive), so every later partition render — drop
    # lists in delete/merge, partition_filter reads, catalog sync — would
    # address the wrong directory for some values. Refused at declaration
    # (and re-checked against the actual frame in _insert for DDL-less
    # tables) instead of failing deep in a write.
    _NO_PARTITION_TYPES = ("float", "double", "real", "binary")

    def _validate_partition_types(self, defn: TableDefinition) -> None:
        if not defn.schema_ddl or not defn.partition_schema.columns:
            return
        from .core.ddl import schema_fields

        types = {n.lower(): t for n, t in schema_fields(defn.schema_ddl)}
        bad = [(c, types[c.lower()])
               for c in defn.partition_schema.columns
               if types.get(c.lower(), "").split("(")[0]
               in self._NO_PARTITION_TYPES]
        if bad:
            raise ValueError(
                f"partition column(s) {bad} have approximate/binary "
                "types, which cannot be rendered as directory names with "
                "cross-engine parity — partition by a string/decimal/"
                "date/integral derivation instead (e.g. "
                "partition_derivations={'bucket': 'CAST(x AS DECIMAL(18,6))'})")

    def _validate_constraints(self, defn: TableDefinition) -> None:
        """Resolve each CHECK constraint against the declared schema at
        declaration time and require a BOOLEAN expression — a non-boolean
        constraint (e.g. just ``'v'``) would otherwise surface only at
        insert time with numeric-coercion pass/fail surprises, and a typo'd
        column name only on the first write."""
        if not defn.check_constraints or not defn.schema_ddl:
            return
        from pyspark.sql.types import BooleanType

        probe = self.spark.createDataFrame([], defn.schema_ddl)
        for expr in defn.check_constraints:
            try:
                dtype = probe.selectExpr(expr).schema[0].dataType
            except Exception as e:
                raise ValueError(
                    f"check constraint {expr!r} does not resolve against "
                    f"declared schema ({defn.schema_ddl}): {e}") from e
            if not isinstance(dtype, BooleanType):
                raise ValueError(
                    f"check constraint {expr!r} must be a BOOLEAN "
                    f"expression, got {dtype.simpleString()}")

    def definition(self, table: TableName | str) -> TableDefinition:
        if isinstance(table, str):
            table = TableName.parse(table)
        return read_table_meta(self.table_location(table), self.storage)

    def _log(self, table: TableName | str) -> tuple[TableDefinition, FileTableVersions]:
        defn = self.definition(table)
        return defn, FileTableVersions(defn.location, self.storage)

    # ---------------------------------------------------------------- write

    def insert(self, df: DataFrame, table: TableName | str, user_id: str,
               message: str, mode: str = "overwrite",
               evolve_schema: bool = False,
               distribute: bool = True,
               txn: tuple[str, int] | None = None,
               check_conflicts: bool = False,
               cluster_by: list[str] | None = None,
               cluster_mode: str = "range") -> CommitResult:
        """Versioned insert (reference ``versionedInsertInto``,
        ``VersionContext.scala:29-44,53-90``).

        ``mode="overwrite"`` (reference semantics): partitions present in
        ``df`` get a fresh version containing only ``df``'s rows; snapshot
        tables are fully replaced.

        ``mode="append"`` (extension, needed for streaming ingest): the fresh
        version additionally contains the previous version's rows. Because
        version directories are immutable, this is file-level: the old
        version's data files are hardlinked (copied on link failure) into the
        new version dir — no data rewrite, no extra Spark job.

        ``distribute=True`` (default) clusters the data by partition columns
        before a partitioned write, so each partition dir gets one file per
        shuffle-target instead of one per *input* partition (a 32-partition
        input over 30 dates would otherwise write ~960 small files —
        the small-files death spiral at scale). Pass ``distribute=False``
        when the input is already arranged (e.g. heavily skewed partitions
        pre-salted by the caller).

        ``evolve_schema=True`` (extension; unsupported in the reference,
        SURVEY §1.3): allow ``df`` to carry columns the table has never seen.
        The table schema widens to include them and subsequent reads merge
        footers across versions, so pre-evolution versions read the new
        columns as NULL. Without the flag, new columns are an error — the
        reference-faithful strict default.

        ``txn=(app_id, version)`` (extension, Delta ``txnAppId``/
        ``txnVersion``): idempotence token. If the log already holds a commit
        with this app id at a version >= the given one, the write is SKIPPED
        and the current state returned — a retried job (Spark task retry,
        streaming-batch replay, orchestrator re-run) cannot double-apply.

        ``cluster_by=[cols]`` (extension, Delta ``OPTIMIZE ZORDER``'s role
        at write time): sort the write on the given columns so each output
        file covers a tight value range; per-file footer stats recorded in
        the commit then let ``read(stats_filter=...)`` skip whole files.
        ``cluster_mode="zorder"`` (with ≥2 cluster columns) sorts on the
        Morton-interleaved z-value instead of the lexicographic
        concatenation: every file covers a small hyper-rectangle, so
        skipping works on ANY clustered column — lexicographic sort only
        serves the leading one (``functions.zorder``).

        ``check_conflicts=True`` (extension, Delta-style optimistic
        concurrency): abort with ``ConcurrentWriteError`` if another writer
        changed any partition this insert touches (or the snapshot version)
        between our state read and the commit — instead of the default
        last-writer-wins. ``mode="append"`` always runs this check: its new
        version links the previous version's files, so an unnoticed
        concurrent commit would silently drop that writer's rows.
        """
        return self._insert(df, table, user_id, message, mode=mode,
                            evolve_schema=evolve_schema, distribute=distribute,
                            txn=txn, check_conflicts=check_conflicts,
                            cluster_by=cluster_by, cluster_mode=cluster_mode)

    def _insert(self, df: DataFrame, table: TableName | str, user_id: str,
                message: str, mode: str = "overwrite",
                evolve_schema: bool = False, distribute: bool = True,
                drop_partitions: list[Partition] = (),
                txn: tuple[str, int] | None = None,
                check_conflicts: bool = False,
                cluster_by: list[str] | None = None,
                cluster_mode: str = "range",
                cdc: DataFrame | None = None,
                conflict_fold=None,
                range_partitions: int | None = None) -> CommitResult:
        """insert() plus ``drop_partitions``: partitions to REMOVE in the
        same commit unless the write itself re-adds them — lets delete()
        empty a partition atomically (write + remove = one commit).

        ``range_partitions``: file count of a clustered snapshot write
        (``compact``'s ``target_partitions``); see ``_write_snapshot``.

        ``cdc``: the exactly-changed rows of this commit (logical table
        columns + ``_change_type`` delete|insert), written as ``_cdc/``
        sidecars into the new version dirs when the table declares
        ``change_data_feed`` — Delta's CDC-file recipe, consumed by
        ``read_changes(row_level=True)`` and the streaming change feed.

        ``conflict_fold``: a head fold captured by the CALLER before it
        read the table — read-modify-write operators (upsert/merge/delete/
        update/compact) pass this so the commit precondition guards their
        whole read→rewrite window, not just _insert's own slice of it. A
        commit landing after the caller's read then raises
        ``ConcurrentWriteError`` instead of being silently erased by the
        stale rewrite."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"Unknown insert mode {mode!r}")
        defn, log = self._log(table)
        if txn is not None:
            done = self._last_txn_version(log, txn[0])
            if done is not None and done[0] >= txn[1]:
                # already applied: return current state, empty change set
                current = log.current_version(defn.name)
                return CommitResult(current,
                                    compute_changes(current, current),
                                    done[1])
        # generated partition columns: compute any the writer omitted from
        # the declared expression BEFORE the schema check sees the frame
        for col, expr in defn.partition_derivations:
            if col not in df.columns:
                df = df.withColumn(col, F_expr(expr))
        # frame-side twin of create_table's _validate_partition_types:
        # catches float/double/binary partition values on DDL-less tables
        # BEFORE any file is written (a failed render mid-publish would
        # strand data files in an uncommitted version dir)
        from pyspark.sql.types import BinaryType, DoubleType, FloatType

        lower = {c.lower(): c for c in df.columns}
        for pcol in defn.partition_schema.columns:
            c = lower.get(pcol.lower())
            if c is not None and isinstance(
                    df.schema[c].dataType,
                    (FloatType, DoubleType, BinaryType)):
                raise ValueError(
                    f"partition column {pcol} is "
                    f"{df.schema[c].dataType.simpleString()}: approximate/"
                    "binary partition values cannot be rendered as "
                    "directory names with cross-engine parity — cast to "
                    "string/decimal/date/integral first")
        defn = self._check_or_evolve_schema(df, defn, evolve_schema)
        if defn.column_mapping:
            # logical→physical: data files always carry the ORIGINAL
            # (physical) names, so renames never fragment the on-disk
            # schema and mergeSchema keeps matching by name across versions
            to_phys = dict(defn.column_mapping)
            for logical, physical in defn.column_mapping:
                if logical in df.columns:
                    df = df.withColumnRenamed(logical, physical)
            if cluster_by:
                cluster_by = [to_phys.get(c, c) for c in cluster_by]
        drop_col = None
        if cluster_by and cluster_mode == "zorder":
            from .functions.zorder import zorder_column

            # the z-value is a write-time-only sort key: computed into a
            # temp column (post schema check, so it never becomes part of
            # the table schema) and dropped again just before the save
            drop_col = "__tvx_zorder"
            df = df.withColumn(drop_col, zorder_column(df, cluster_by))
            cluster_by = [drop_col]
        elif cluster_mode not in ("range", "zorder"):
            raise ValueError(f"Unknown cluster_mode {cluster_mode!r}")
        # head-state fold at read time, for optimistic conflict detection:
        # commit-time preconditions compare against THIS, not against
        # `previous` (which follows the pointer and may be rolled back).
        # Read order matters: the fold is captured BEFORE `previous` — a
        # commit landing between the two reads then surfaces as a
        # precondition clash (spurious-but-safe retry) instead of being
        # silently dropped by linking from a pre-conflict `previous`.
        read_fold = conflict_fold
        if read_fold is None and (mode == "append" or check_conflicts):
            read_fold = log.head_fold(defn.name)
        previous = log.current_version(defn.name)
        version = Version.generate()
        # §2.6 overlap: a partitioned CDF commit's sidecar STAGING write
        # depends only on the cdc frame and the just-generated version
        # label, so it runs as a second Spark job concurrent with the
        # main data write; the links/markers publish still waits for
        # `ops`. (Snapshot sidecars land inside the version dir the main
        # write produces, so they keep the sequential path.)
        cdc_stage = None
        if (cdc is not None and defn.change_data_feed
                and not defn.is_snapshot):
            cdc_stage = self._start_cdc_staging(cdc, defn, version)
        try:
            if defn.is_snapshot:
                ops = self._write_snapshot(df, defn, version,
                                           cluster_by=cluster_by,
                                           drop_col=drop_col,
                                           range_partitions=range_partitions)
                self._validate_staged_checks(defn, ops, version)
                if mode == "append" \
                        and isinstance(previous, SnapshotTableVersion) \
                        and previous.version != UNVERSIONED:
                    prev_dir = path_for(defn.location, previous.version)
                    new_dir = path_for(defn.location, version)
                    _link_data_files(prev_dir, new_dir, self.storage)
                    # linked files still hold any dv-masked rows: the
                    # vector must ride along or the deleted rows resurrect
                    _carry_dv_sidecar(prev_dir, new_dir, self.storage)
            else:
                ops = self._write_partitioned(df, defn, version,
                                              distribute=distribute,
                                              cluster_by=cluster_by,
                                              drop_col=drop_col)
                self._validate_staged_checks(defn, ops, version)
                if mode == "append" and isinstance(previous,
                                                   PartitionedTableVersion):
                    def link_prev(op):
                        old = previous.partition_versions[op.partition]
                        prev_dir = os.path.join(
                            defn.location, op.partition.render(), old.label)
                        new_dir = os.path.join(
                            defn.location, op.partition.render(),
                            version.label)
                        _link_data_files(prev_dir, new_dir, self.storage)
                        _carry_dv_sidecar(prev_dir, new_dir, self.storage)

                    _parallel_publish(link_prev, [
                        op for op in ops
                        if previous.partition_versions.get(op.partition)
                        is not None])
            written = {op.partition for op in ops
                       if isinstance(op, AddPartitionVersion)}
            ops += [RemovePartition(p) for p in drop_partitions
                    if p not in written]
            if cdc is not None and defn.change_data_feed:
                # sidecars land INSIDE the uncommitted version dirs — like
                # the data files themselves, invisible until the commit
                # record
                if cdc_stage is None:
                    self._write_cdc_sidecars(cdc, defn, version, ops,
                                             previous)
                else:
                    thread, errbox = cdc_stage
                    thread.join()
                    if errbox:
                        raise errbox[0]
                    self._publish_cdc_staging(defn, version, ops, previous)
        finally:
            if cdc_stage is not None:
                # main-write failure included: wait for the staging job,
                # then clear the staging dir — same net state as the old
                # sequential path's finally
                cdc_stage[0].join()
                self.storage.remove_tree(
                    self._cdc_staging_path(defn, version))
        # footer stats AFTER any append-mode linking, so linked-in files are
        # included (stale stats would let the skipper wrongly drop rows).
        # Stats ride the commit record (Delta-style): plan-time skipping
        # reads the log it already has, never one sidecar per directory.
        stats: dict[str, dict] = {}
        if defn.format == "parquet":
            def collect(rel):
                payload = _collect_version_stats(
                    os.path.join(defn.location, rel), self.storage,
                    bloom_columns=defn.bloom_columns)
                if payload is not None:
                    # a carried-forward deletion vector masks rows the
                    # footers still count — keep log-only ANALYZE exact
                    dv = os.path.join(defn.location, rel, _DV_DIR)
                    if self.storage.exists(dv):
                        payload["rows"] = max(
                            payload["rows"] - _dv_row_count(dv, self.storage),
                            0)
                return rel, payload

            rels = [op.version.label if isinstance(op, AddTableVersion)
                    else f"{op.partition.render()}/{version.label}"
                    for op in ops
                    if isinstance(op, (AddTableVersion, AddPartitionVersion))]
            for rel, payload in _parallel_publish(collect, rels):
                if payload is not None:
                    stats[rel] = payload
        precondition = None
        if read_fold is not None:
            touched = (None if defn.is_snapshot else
                       {op.partition for op in ops
                        if isinstance(op, (AddPartitionVersion,
                                           RemovePartition))})
            precondition = self._conflict_precondition(defn, read_fold,
                                                       touched)
        if txn is not None:
            # commit-time idempotence recheck: the probe at the top of
            # _insert is probe-then-commit — a racing duplicate (zombie
            # driver + its retry, same (app, version)) can land between
            # the probe and this commit, and the partition precondition
            # alone would not notice if the read_fold was captured after
            # the winner's commit. Re-verify INSIDE the CAS loop.
            precondition = _txn_recheck_precondition(txn, precondition)
        try:
            return self._commit(defn, log, TableUpdate(
                TableUpdateMetadata.create(user_id, message, txn=txn),
                tuple(ops), stats=stats or None), precondition=precondition)
        except TxnAlreadyCommitted as dup:
            current = log.current_version(defn.name)
            return CommitResult(current, compute_changes(current, current),
                                dup.commit_id)

    def _check_or_evolve_schema(self, df: DataFrame, defn: TableDefinition,
                                evolve: bool) -> TableDefinition:
        """Gate unknown incoming columns; widen the persisted schema when
        evolution is requested. Column *removal* never mutates the schema —
        a version that lacks columns simply reads them as NULL under
        mergeSchema, keeping old commits time-travelable."""
        if not defn.schema_ddl:
            return defn
        known = {f.name for f in
                 self.spark.createDataFrame([], defn.schema_ddl).schema.fields}
        new_cols = [c for c in df.columns if c not in known]
        if not new_cols:
            return defn
        if not evolve:
            raise ValueError(
                f"Insert has columns unknown to "
                f"{defn.name.fully_qualified_name}: {new_cols}. "
                "Pass evolve_schema=True to widen the table schema.")
        # a "new" logical name must not collide with a physical name still
        # present in old data files (renamed-away or dropped): mergeSchema
        # would resurrect the old bytes under the new column
        ghosts = ({p for _, p in defn.column_mapping}
                  | set(defn.dropped_columns))
        clash = [c for c in new_cols if c in ghosts]
        if clash:
            raise ValueError(
                f"Cannot add column(s) {clash}: the name is still the "
                "physical name of a renamed or dropped column in existing "
                "data files")
        # apply the widening onto a FRESH read of the stored meta, not the
        # defn this insert started from: a concurrent rename_column's meta
        # write landing in between would otherwise be clobbered by our
        # stale mapping fields (the schema stays fail-open if the insert
        # later aborts — widened with nulls, never narrowed)
        stored = read_table_meta(defn.location, self.storage)
        stored_names = {n for n, _ in self._schema_fields(stored)}
        still_new = [c for c in new_cols if c not in stored_names]
        if not still_new:  # a concurrent evolve already added them
            return stored
        added = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                          for f in df.schema.fields
                          if f.name in set(still_new))
        defn = dataclasses.replace(
            stored, schema_ddl=f"{stored.schema_ddl}, {added}",
            merge_schema=True)
        write_table_meta(defn, self.storage)
        return defn

    def upsert(self, df: DataFrame, table: TableName | str, keys: list[str],
               user_id: str, message: str) -> CommitResult:
        """MERGE-style upsert: rows in ``df`` replace current rows with the
        same key; unmatched rows are inserted. One fresh version, atomic at
        the commit-file write (reference has no merge surface; semantics
        follow Delta's ``MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED
        INSERT`` for whole-row updates).

        Scale shape: only partitions *touched by* ``df`` are rewritten — the
        current rows of those partitions are read, anti-joined on the key,
        unioned with ``df``, and written as the partitions' next version.
        Untouched partitions keep their version (no read, no write). For a
        snapshot table the whole table is the one 'partition'.

        Caveat (same as any partition-scoped merge): a key is assumed to
        stay in its partition — if an upsert row carries key K with new
        partition values, K's old row in the old (untouched) partition is
        not removed; issue a ``delete`` first to relocate keys.
        """
        from pyspark.sql import functions as F

        defn, log = self._log(table)
        # conflict baseline BEFORE the data read: the commit precondition
        # must guard the whole read→merge→commit window (see _insert's
        # conflict_fold note)
        base_fold = log.head_fold(defn.name)
        pcols = list(defn.partition_schema.columns)
        current = self.read(table)
        # case-INSENSITIVE compare: Spark resolves columns that way by
        # default, and select/unionByName below accept case-variant
        # sources — the guard must not reject what the merge handles
        if ({c.lower() for c in df.columns}
                != {c.lower() for c in current.columns}):
            # survivors are projected to df.columns before the rewrite: a
            # column missing from df would be silently NULLed for every
            # untouched row in the touched partitions
            raise ValueError(
                f"upsert source schema {sorted(df.columns)} must match "
                f"table schema {sorted(current.columns)}")
        canon = {c.lower(): c for c in current.columns}
        if [canon[c.lower()] for c in df.columns] != list(df.columns):
            # normalize a case-variant source to the declared casing so
            # the rewritten files carry the declared column names (other
            # engines read parquet case-sensitively even if Spark doesn't)
            df = df.select(*[F.col(c).alias(canon[c.lower()])
                             for c in df.columns])
        if pcols:
            touched = df.select(*pcols).distinct()
            # null-safe (<=>) semi-join: a NULL partition value in df must
            # scope its partition like any other value — a plain equi-join
            # would skip it and the overwrite would drop the old NULL-
            # partition rows instead of merging them
            current = current.alias("cur").join(
                F.broadcast(touched).alias("tch"),
                _null_safe_cond(pcols, "cur", "tch"), "left_semi")
        survivors = current.join(df.select(*keys).distinct(), keys, "left_anti")
        merged = survivors.select(*df.columns).unionByName(df)
        cdc = None
        if defn.change_data_feed:
            # replaced rows' pre-image as deletes, every upsert row as an
            # insert (whole-row update semantics: a matched key is always
            # replaced)
            cdc = (current.join(df.select(*keys).distinct(), keys,
                                "left_semi").select(*df.columns)
                   .withColumn("_change_type", F.lit("delete"))
                   .unionByName(df.withColumn("_change_type",
                                              F.lit("insert"))))
        return self._insert(merged, table, user_id, message, cdc=cdc,
                            conflict_fold=base_fold)

    def merge(self, source: DataFrame, table: TableName | str,
              keys: list[str], user_id: str, message: str,
              when_matched_update: str | bool = True,
              when_matched_delete: str | bool = False,
              when_not_matched_insert: str | bool = True,
              when_not_matched_by_source_delete: str | bool = False,
              sync_scope: str | None = None,
              ) -> CommitResult:
        """General MERGE (Delta/ANSI ``MERGE INTO`` shape; the reference has
        no row-level surface). Rows of ``table`` ("target") join ``source``
        on ``keys``; per-row actions, evaluated in this order:

        - matched + ``when_matched_delete`` condition → row dropped
        - matched + ``when_matched_update`` condition → replaced by the
          source row (whole-row update; source must carry the full schema)
        - matched otherwise → target row kept unchanged
        - source-only + ``when_not_matched_insert`` condition → inserted
        - target-only + ``when_not_matched_by_source_delete`` condition →
          dropped (Delta ``WHEN NOT MATCHED BY SOURCE DELETE`` — the
          full-sync shape: the target converges to the source set; the
          condition sees only ``t.col``)
        - target-only otherwise → kept unchanged

        ``when_not_matched_by_source_delete`` on a *partitioned* table
        requires an explicit ``sync_scope`` — ``True`` reads like Delta's
        whole-table semantics, but the default partition-scoped merge only
        deletes target-only rows inside partitions the source touches,
        and rows in untouched partitions would silently survive a "full
        sync". Pass ``sync_scope="source-partitions"`` to accept the
        scoped behavior (untouched partitions keep their version and
        their rows — pair it with a source that covers every partition it
        should sync), or ``sync_scope="all"`` for true whole-table
        convergence (every existing partition participates, so each is
        read and rewritten-or-dropped — the cost a real full sync
        implies).

        Conditions are ``True`` (always), ``False`` (never), or a SQL
        boolean expression string evaluated on the matched pair — reference
        target columns as ``t.col`` and source columns as ``s.col``. A
        condition evaluating NULL does not fire (SQL semantics).

        Scale shape: like :meth:`upsert`, only partitions *touched by the
        source* are rewritten (null-safe partition scoping); the per-row
        action resolution is one shuffled full-outer join on the keys —
        no driver-side data movement. A source key matching multiple target
        rows acts on each (no duplicate-match error, unlike Delta).

        Caveat (same as upsert): a key is assumed to stay in its partition;
        a source row carrying key K with NEW partition values inserts into
        the new partition without removing K's row from the old one.
        """
        from pyspark.sql import functions as F

        defn, log = self._log(table)
        pcols = list(defn.partition_schema.columns)
        if sync_scope not in (None, "source-partitions", "all"):
            raise ValueError(
                f"sync_scope must be 'source-partitions' or 'all', "
                f"got {sync_scope!r}")
        if when_not_matched_by_source_delete is not False and pcols \
                and sync_scope is None:
            raise ValueError(
                "when_not_matched_by_source_delete on a partitioned table "
                "needs an explicit sync_scope: 'source-partitions' deletes "
                "target-only rows ONLY inside partitions the source "
                "touches (rows in untouched partitions survive); 'all' "
                "converges the whole table (every partition is read and "
                "rewritten or dropped)")
        base_fold = log.head_fold(defn.name)
        current = self.read(table)
        cols = current.columns
        if set(source.columns) != set(cols):
            raise ValueError(
                f"merge source schema {sorted(source.columns)} must match "
                f"table schema {sorted(cols)}")
        if pcols and sync_scope != "all":
            # scope to touched partitions only; untouched partitions keep
            # their version (no read, no write) exactly as in upsert()
            touched = source.select(*pcols).distinct()
            current = (current.alias("cur")
                       .join(F.broadcast(touched).alias("tch"),
                             _null_safe_cond(pcols, "cur", "tch"),
                             "left_semi")
                       .select(*cols))

        def _cond(spec: str | bool):
            if spec is True:
                return F.lit(True)
            if spec is False:
                return F.lit(False)
            return F.coalesce(F.expr(spec), F.lit(False))

        # aliased join so user condition strings reference t.col / s.col
        # directly; __t/__s presence markers make matched-ness independent
        # of key nullability (keys join null-safely)
        t = current.withColumn("__t", F.lit(True)).alias("t")
        s = source.withColumn("__s", F.lit(True)).alias("s")
        on = F.lit(True)
        for k in keys:
            on = on & F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        j = t.join(s, on, "full_outer")
        tcol = lambda c: F.col(f"t.{c}")  # noqa: E731
        scol = lambda c: F.col(f"s.{c}")  # noqa: E731
        matched = F.col("t.__t").isNotNull() & F.col("s.__s").isNotNull()
        t_only = F.col("t.__t").isNotNull() & F.col("s.__s").isNull()
        s_only = F.col("t.__t").isNull() & F.col("s.__s").isNotNull()
        delete_c = _cond(when_matched_delete)
        update_c = _cond(when_matched_update)
        insert_c = _cond(when_not_matched_insert)
        nmbs_delete_c = _cond(when_not_matched_by_source_delete)
        keep = ((t_only & ~nmbs_delete_c)
                | (matched & ~delete_c)
                | (s_only & insert_c))
        take_source = (matched & ~delete_c & update_c) | s_only
        out = (j.where(keep)
                .select(*[F.when(take_source, scol(c)).otherwise(tcol(c))
                          .alias(c) for c in cols]))
        cdc = None
        if defn.change_data_feed:
            # exactly-changed rows from the same join: deleted/updated
            # target rows as deletes, updated/inserted source rows as
            # inserts (an update emits its pre+post pair, Delta-style)
            ct = "_change_type"
            tsel = [tcol(c).alias(c) for c in cols]
            ssel = [scol(c).alias(c) for c in cols]
            upd = matched & ~delete_c & update_c
            cdc = (j.where((matched & delete_c) | (t_only & nmbs_delete_c)
                           | upd).select(*tsel)
                   .withColumn(ct, F.lit("delete"))
                   .unionByName(
                       j.where(upd | (s_only & insert_c)).select(*ssel)
                       .withColumn(ct, F.lit("insert"))))
        if not pcols:
            return self._insert(out, table, user_id, message, cdc=cdc,
                                conflict_fold=base_fold)
        # A touched partition whose every row was merge-deleted writes no
        # files, so it must be dropped in the SAME commit or it would keep
        # its old version (and its stale rows). Partition KEYS only come to
        # the driver — same bounded collect delete() documents.
        from .core.model import escape_partition_value as esc
        touched_keys = source.select(*pcols).distinct().collect()
        drop = [Partition.parse("/".join(f"{c}={esc(r[c])}" for c in pcols))
                for r in touched_keys]
        if sync_scope == "all":
            # whole-table sync: every existing partition participates, so
            # each must be dropped-or-rewritten in this commit (a partition
            # emptied by the sync would otherwise keep its old version and
            # its stale rows). Keys come from the log fold — metadata only.
            state = log.current_version(defn.name)
            drop = sorted(set(drop) | set(state.partition_versions),
                          key=lambda p: p.render())
        return self._insert(out, table, user_id, message,
                            drop_partitions=drop, cdc=cdc,
                            conflict_fold=base_fold)

    def delete(self, table: TableName | str, predicate: str, user_id: str,
               message: str, mode: str = "rewrite") -> CommitResult:
        """Row-level delete. Old versions remain time-travelable until
        ``vacuum`` (the reference offers no row-level operations at all).

        ``mode="rewrite"`` (default): rewrite only partitions that contain
        matching rows, dropping them, as a fresh version; a partition with
        no matches keeps its current version untouched; a partition
        emptied by the delete is dropped in the same commit.

        ``mode="dv"`` (deletion vectors — Delta DV shape): ZERO data
        rewrite. Each affected partition gets a fresh version dir whose
        data files are hardlinks of the previous version's, plus a
        ``_dv/`` parquet sidecar recording the deleted ``(file,
        row_index)`` positions; reads anti-join the vector out. The write
        cost is O(deleted positions) + metadata — the right mode when
        deleting a sliver of a TB-scale partition (GDPR erasure, spot
        corrections); prefer ``rewrite`` (or run ``compact``, which
        materializes vectors away) once vectors accumulate. A partition
        whose every row is deleted stays present with zero live rows
        (unlike ``rewrite``, which drops it)."""
        from pyspark.sql import functions as F

        if mode not in ("rewrite", "dv"):
            raise ValueError(f"mode must be 'rewrite' or 'dv', got {mode!r}")
        defn, log = self._log(table)
        if mode == "dv":
            return self._delete_dv(defn, log, predicate, user_id, message)
        pcols = list(defn.partition_schema.columns)
        base_fold = log.head_fold(defn.name)
        current = self.read(table)
        # SQL DELETE semantics: remove rows where the predicate is TRUE;
        # rows where it evaluates NULL are KEPT (`~cond` alone would drop
        # them — NULL is not TRUE under negation either)
        cond = F.coalesce(F.expr(predicate), F.lit(False))
        # change-data-feed tables record the deleted rows exactly (one
        # extra job over the MATCHED rows; a fully-emptied partition needs
        # no sidecar — its removal already reads as delete-all)
        cdc = (current.where(cond).withColumn("_change_type",
                                              F.lit("delete"))
               if defn.change_data_feed else None)
        if not pcols:
            return self._insert(current.where(~cond), table, user_id,
                                message, cdc=cdc, conflict_fold=base_fold)
        # partition KEYS (not data rows) come to the driver: a partition
        # emptied by the delete writes no files, so its RemovePartition op
        # must ride the same commit. escape_partition_value maps a NULL
        # partition value to __HIVE_DEFAULT_PARTITION__ — the dir name Spark
        # itself writes for NULLs.
        from .core.model import escape_partition_value as esc
        affected_rows = current.where(cond).select(*pcols).distinct().collect()
        affected = [
            Partition.parse("/".join(f"{c}={esc(r[c])}" for c in pcols))
            for r in affected_rows]
        if not affected:
            return self.insert(current.limit(0), table, user_id, message,
                               distribute=False)
        # rebuild the scope frame from the ALREADY-COLLECTED keys: reusing
        # the collected rows saves a second full predicate scan and pins
        # the scope to exactly the partitions the drop list names (a
        # non-deterministic predicate would otherwise scope differently)
        affected_df = self.spark.createDataFrame(
            affected_rows, current.select(*pcols).schema)
        # null-safe scope join: NULL-partition rows must be rewritten too
        scoped = current.alias("cur").join(
            F.broadcast(affected_df).alias("aff"),
            _null_safe_cond(pcols, "cur", "aff"), "left_semi")
        remaining = scoped.where(~cond)
        return self._insert(remaining, table, user_id, message,
                            drop_partitions=affected, cdc=cdc,
                            conflict_fold=base_fold)

    def _delete_dv(self, defn: TableDefinition, log: FileTableVersions,
                   predicate: str, user_id: str,
                   message: str) -> CommitResult:
        """Deletion-vector delete (see :meth:`delete` ``mode="dv"``).

        One metadata-scan job finds matching positions (existing vectors
        already applied, so a twice-deleted row is recorded once); only
        partition KEYS and per-partition counts come to the driver. The
        new vector = old vector ∪ new positions, written distributed
        (one ``partitionBy`` job), then each affected partition's new
        version dir is hardlinked and committed with stats CARRIED from
        the previous version's recorded payload (the data files are
        links, so footer-derived ranges/blooms are byte-identical; only
        the dv-adjusted row count moves, by exactly the newly staged
        position count) — ``table_stats`` stays exact with ZERO data
        footer reads; dirs without a recorded payload fall back to the
        footer pass."""
        from pyspark.sql import functions as F

        if defn.format != "parquet":
            raise ValueError(
                "delete(mode='dv') requires parquet (positions use the "
                "parquet _metadata.row_index column); use mode='rewrite'")
        # bucketed tables are fine here: a dv delete never writes data
        # files — the new version dir is links (original part indices are
        # preserved inside the prefixed names) plus a _dv sidecar, and
        # every bucket-aware read surface (read(bucket_filter=...),
        # bucketed_join) applies vectors after file selection
        pcols = list(defn.partition_schema.columns)
        # conflict baseline before the state/dirs read: the final commit's
        # precondition guards the whole scan→vector-write window
        base_fold = log.head_fold(defn.name)
        state = log.current_version(defn.name)
        if defn.is_snapshot:
            if state.version == UNVERSIONED:
                return self._commit(defn, log, TableUpdate(
                    TableUpdateMetadata.create(user_id, message), ()))
            dirs = {None: path_for(defn.location, state.version)}
        else:
            dirs = {p: os.path.join(defn.location, p.render(), v.label)
                    for p, v in state.partition_versions.items()}
            if not dirs:
                return self._commit(defn, log, TableUpdate(
                    TableUpdateMetadata.create(user_id, message), ()))
        reader = self.spark.read.format(defn.format)
        if defn.merge_schema:
            reader = reader.option("mergeSchema", "true")
        paths = sorted(dirs.values())
        with self._raw_partition_types():
            scan = (reader.option("basePath", defn.location).load(paths)
                    if pcols else reader.load(paths))
        # declared types BEFORE the predicate evaluates: raw string
        # partition values must compare under the declared schema
        scan = self._declared_types(scan, defn)
        scan = self._with_dv_keys(scan)
        # apply existing vectors so already-deleted rows don't re-match,
        # and the logical-name mapping so the predicate resolves
        old_dvs = self._dv_dirs(paths)
        if old_dvs:
            scan = scan.join(self._dv_frame(old_dvs),
                             ["__dv_dir", "__dv_file", "__dv_idx"],
                             "left_anti")
        scan = self._apply_mapping(defn, scan)
        cond = F.coalesce(F.expr(predicate), F.lit(False))
        matched = (scan.where(cond)
                   .select(*pcols, F.col("__dv_file").alias("file"),
                           F.col("__dv_idx").alias("idx")))
        version = Version.generate()
        staging = os.path.join(defn.location,
                               f"_dv_staging-{version.label}")
        if defn.is_snapshot:
            try:
                # ONE fact scan: the positions write IS the match pass;
                # emptiness reads from the staged footers (driver
                # metadata), never a second groupBy().count() scan
                (matched.select("file", "idx")
                 .write.mode("overwrite").parquet(staging))
                staged_new = _dv_row_count(staging, self.storage)
                if staged_new == 0:
                    return self._commit(defn, log, TableUpdate(
                        TableUpdateMetadata.create(user_id, message), ()))
                new_dir = path_for(defn.location, version)
                _link_data_files(dirs[None], new_dir, self.storage)
                dv_dst = os.path.join(new_dir, _DV_DIR)
                self.storage.publish_dir(staging, dv_dst)
                self._carry_old_dvs([(os.path.join(d, _DV_DIR), dv_dst)
                                     for d in old_dvs])
            finally:
                self.storage.remove_tree(staging)
            payload = _carried_dv_stats(
                log.stats_map(defn.name).get(state.version.label),
                staged_new, defn.bloom_columns)
            if payload is None:
                dv_total = _dv_row_count(dv_dst, self.storage)
                payload = _collect_version_stats(
                    new_dir, self.storage, bloom_columns=defn.bloom_columns)
                if payload:
                    payload["rows"] = max(payload["rows"] - dv_total, 0)
            stats = {}
            if payload:
                stats[version.label] = payload
            return self._commit(defn, log, TableUpdate(
                TableUpdateMetadata.create(user_id, message),
                (AddTableVersion(version),), stats=stats or None),
                precondition=self._conflict_precondition(defn, base_fold))
        # partitioned: ONE fact scan — the partitionBy write of matched
        # positions discovers the affected partitions via staging-dir
        # listing (exactly _write_partitioned's trick; the old
        # groupBy/collect pre-pass was a SECOND full scan), with Spark's
        # own partition-value rendering so escaping can never desync
        ops, stats = [], {}
        try:
            (matched.repartition(*[F.col(c) for c in pcols])
             .write.partitionBy(*pcols).mode("overwrite").parquet(staging))
            rels = _discover_partitions(staging, len(pcols), self.storage)
            if not rels:
                return self._commit(defn, log, TableUpdate(
                    TableUpdateMetadata.create(user_id, message), ()))
            affected = {rel: Partition.parse(rel) for rel in rels}
            # NEW position count per partition, read BEFORE the old
            # vectors are carried into the staging dirs: it is the exact
            # row delta for the carried stats payloads below
            new_pos = dict(_parallel_publish(
                lambda rel: (rel, _dv_row_count(
                    os.path.join(staging, rel), self.storage)),
                sorted(rels)))
            # existing vectors ride along as file-level links — no job
            self._carry_old_dvs([
                (os.path.join(dirs[part], _DV_DIR),
                 os.path.join(staging, rel))
                for rel, part in affected.items()
                if self.storage.exists(os.path.join(dirs[part], _DV_DIR))])

            smap = log.stats_map(defn.name)

            # per-partition publish is independent metadata work (links +
            # sidecar publish + footer reads) — parallel threads keep a
            # 10k-partition commit's wall clock bounded by round trips/16,
            # not their sum; results assemble in deterministic order
            def publish(item):
                render, part = item
                new_dir = os.path.join(defn.location, render, version.label)
                _link_data_files(dirs[part], new_dir, self.storage)
                dv_dst = os.path.join(new_dir, _DV_DIR)
                self.storage.publish_dir(os.path.join(staging, render),
                                         dv_dst)
                prev_rel = os.path.join(
                    render, state.partition_versions[part].label)
                payload = _carried_dv_stats(
                    smap.get(prev_rel), new_pos[render],
                    defn.bloom_columns)
                if payload is None:
                    dv_total = _dv_row_count(dv_dst, self.storage)
                    payload = _collect_version_stats(
                        new_dir, self.storage,
                        bloom_columns=defn.bloom_columns)
                    if payload:
                        payload["rows"] = max(
                            payload["rows"] - dv_total, 0)
                return part, render, payload

            for part, render, payload in _parallel_publish(
                    publish, sorted(affected.items())):
                ops.append(AddPartitionVersion(part, version))
                if payload:
                    stats[os.path.join(render, version.label)] = payload
        finally:
            self.storage.remove_tree(staging)
        return self._commit(defn, log, TableUpdate(
            TableUpdateMetadata.create(user_id, message), tuple(ops),
            stats=stats or None),
            precondition=self._conflict_precondition(
                defn, base_fold, {*affected.values()}))

    def _update_dv(self, defn: TableDefinition, log: FileTableVersions,
                   set: dict[str, str], predicate: str, user_id: str,
                   message: str) -> CommitResult:
        """Deletion-vector UPDATE (see :meth:`update` ``mode="dv"``): mask
        the matched rows' old positions with a vector and write ONLY the
        updated rows as new files into the hardlinked new version dir —
        unmatched rows are never rewritten. One scan job finds positions
        and computes the updated payload; only partition keys/counts reach
        the driver."""
        from pyspark.sql import functions as F

        if defn.format != "parquet":
            raise ValueError(
                "update(mode='dv') requires parquet (positions use the "
                "parquet _metadata.row_index column); use mode='rewrite'")
        # bucketed tables: supported — the updated rows' write below is
        # hash-clustered into bucket_count tasks on the bucket columns
        # (task index == bucket id == part-file index, the same contract
        # every insert honors), so the new files join bucket-by-bucket
        # like the linked originals
        pcols = list(defn.partition_schema.columns)
        # conflict baseline before the state/dirs read: the final commit's
        # precondition guards the whole scan→vector-write window
        base_fold = log.head_fold(defn.name)
        state = log.current_version(defn.name)
        if defn.is_snapshot:
            if state.version == UNVERSIONED:
                return self._commit(defn, log, TableUpdate(
                    TableUpdateMetadata.create(user_id, message), ()))
            dirs = {None: path_for(defn.location, state.version)}
        else:
            dirs = {p: os.path.join(defn.location, p.render(), v.label)
                    for p, v in state.partition_versions.items()}
            if not dirs:
                return self._commit(defn, log, TableUpdate(
                    TableUpdateMetadata.create(user_id, message), ()))
        reader = self.spark.read.format(defn.format)
        if defn.merge_schema:
            reader = reader.option("mergeSchema", "true")
        paths = sorted(dirs.values())
        with self._raw_partition_types():
            scan = (reader.option("basePath", defn.location).load(paths)
                    if pcols else reader.load(paths))
        # declared types BEFORE the predicate evaluates: raw string
        # partition values must compare under the declared schema
        scan = self._declared_types(scan, defn)
        scan = self._with_dv_keys(scan)
        old_dvs = self._dv_dirs(paths)
        if old_dvs:
            scan = scan.join(self._dv_frame(old_dvs),
                             ["__dv_dir", "__dv_file", "__dv_idx"],
                             "left_anti")
        scan = self._apply_mapping(defn, scan)
        data_cols = [c for c in scan.columns
                     if not c.startswith("__dv_")]
        unknown = [c for c in set if c not in data_cols]
        if unknown:
            raise ValueError(f"Unknown column(s) in SET: {unknown}")
        cond = F.coalesce(F.expr(predicate), F.lit(False))
        version = Version.generate()
        # materialize the matched rows ONCE: positions, the updated
        # payload and the constraint probe are separate Spark jobs, and a
        # non-deterministic predicate re-evaluated per job would mask
        # rows that were never rewritten (row loss) — every downstream
        # job reads this one scratch set. Partitioned tables cluster the
        # match set by partition HERE (r12, guide §2.4): the staged
        # files come out one-per-partition, so both downstream writes
        # (positions, updated payload) inherit partition-clustered
        # splits and run as shuffle-free single-stage partitionBy jobs —
        # the matched payload crosses the network once, in this write,
        # instead of re-shuffling in each downstream job.
        match_staging = os.path.join(defn.location,
                                     f"_match_staging-{version.label}")
        match_df = scan.where(cond).select(*data_cols, "__dv_file",
                                           "__dv_idx")
        if pcols:
            (match_df.repartition(*[F.col(c) for c in pcols])
             .write.partitionBy(*pcols).mode("overwrite")
             .parquet(match_staging))
            empty = not _discover_partitions(match_staging, len(pcols),
                                             self.storage)
        else:
            match_df.write.mode("overwrite").parquet(match_staging)
            empty = _dv_row_count(match_staging, self.storage) == 0
        if empty:
            self.storage.remove_tree(match_staging)
            return self._commit(defn, log, TableUpdate(
                TableUpdateMetadata.create(user_id, message), ()))
        # anything that throws between here and the branch-local
        # try/finally blocks below (SET-expression parse errors, cast
        # analysis failures, the constraint probe) must not strand the
        # materialized match set — it can be GBs, and vacuum never
        # collects root-level scratch dirs
        try:
            # read back under the schema just written — skips the
            # footer-inference pass over a scratch set that can be GBs
            matched = (self.spark.read.schema(match_df.schema)
                       .parquet(match_staging))
            # updated payload: every assignment against the OLD row, each
            # SET expression cast to the column's DECLARED type — the
            # rewrite path gets both for free via insert()'s schema check;
            # without the cast this path would write files whose column
            # types drift from the declared schema (int literal into a
            # bigint column, etc.)
            declared = ({f.name: f.dataType
                         for f in self.spark.createDataFrame(
                             [], defn.schema_ddl).schema.fields}
                        if defn.schema_ddl else {})
            updated_logical = matched.select(*[
                ((F.expr(set[c]).cast(declared[c]) if c in declared
                  else F.expr(set[c])) if c in set else F.col(c)).alias(c)
                for c in data_cols])
            if defn.check_constraints:
                # same violated-row probe as _insert: a violation rejects
                # the commit before any file or vector is written
                from functools import reduce

                violated = reduce(
                    lambda a, b: a | b,
                    [F.expr(c) == False  # noqa: E712
                     for c in defn.check_constraints])
                bad = updated_logical.where(violated).limit(1).collect()
                if bad:
                    raise ConstraintViolationError(
                        f"CHECK constraint {defn.check_constraints} "
                        f"rejected updated row {bad[0].asDict()}")
            # logical→physical names for the file write
            to_phys = dict(defn.column_mapping)
            updated = updated_logical.select(*[
                F.col(c).alias(to_phys.get(c, c)) for c in data_cols])
            positions = matched.select(
                *pcols, F.col("__dv_file").alias("file"),
                F.col("__dv_idx").alias("idx"))
        except BaseException:
            self.storage.remove_tree(match_staging)
            raise
        # partition columns are never renameable (_guard_structural_column),
        # so their logical and physical names coincide — dir renders match
        # the partitionBy output directly

        def _move_data_files(staged_dir: str, dst_dir: str) -> None:
            for f in sorted(self.storage.list_dir(staged_dir)):
                if f.startswith((".", "_")):
                    continue
                self.storage.link_or_copy(os.path.join(staged_dir, f),
                                          os.path.join(dst_dir, f))

        if defn.is_snapshot:
            dv_staging = os.path.join(defn.location,
                                      f"_dv_staging-{version.label}")
            upd_staging = os.path.join(defn.location,
                                       f"_upd_staging-{version.label}")
            try:
                upd_out = updated
                if defn.bucket_count:
                    # bucket contract: task index == bucket id rides the
                    # part-file name, same as every insert
                    upd_out = updated.repartition(
                        defn.bucket_count,
                        *[F.col(c) for c in defn.bucket_columns])
                # positions and updated payload both read only the
                # materialized match set and write disjoint staging dirs
                # — independent jobs, overlapped from two driver threads
                _parallel_publish(lambda job: job(), [
                    lambda: (positions.select("file", "idx")
                             .write.mode("overwrite").parquet(dv_staging)),
                    lambda: (upd_out.write.mode("overwrite")
                             .parquet(upd_staging)),
                ])
                # emptiness reads from staged footers, not a second
                # count() scan; the count doubles as the row delta for
                # the carried stats payload below
                staged_new = _dv_row_count(dv_staging, self.storage)
                if staged_new == 0:
                    return self._commit(defn, log, TableUpdate(
                        TableUpdateMetadata.create(user_id, message), ()))
                # footer stats for ONLY the new files, read from the
                # staged dir (same file names after the move) — the
                # linked files' entries carry from the previous payload
                new_stats = _collect_version_stats(
                    upd_staging, self.storage,
                    bloom_columns=defn.bloom_columns,
                    per_file_always=True)
                new_dir = path_for(defn.location, version)
                _link_data_files(dirs[None], new_dir, self.storage)
                _move_data_files(upd_staging, new_dir)
                dv_dst = os.path.join(new_dir, _DV_DIR)
                self.storage.publish_dir(dv_staging, dv_dst)
                self._carry_old_dvs([(os.path.join(d, _DV_DIR), dv_dst)
                                     for d in old_dvs])
            finally:
                self.storage.remove_tree(dv_staging)
                self.storage.remove_tree(upd_staging)
                self.storage.remove_tree(match_staging)
            payload = _merged_update_stats(
                log.stats_map(defn.name).get(state.version.label),
                new_stats, staged_new, defn.bloom_columns)
            if payload is None:
                dv_total = _dv_row_count(
                    os.path.join(new_dir, _DV_DIR), self.storage)
                payload = _collect_version_stats(
                    new_dir, self.storage,
                    bloom_columns=defn.bloom_columns)
                if payload:
                    payload["rows"] = max(payload["rows"] - dv_total, 0)
            stats = {}
            if payload:
                stats[version.label] = payload
            return self._commit(defn, log, TableUpdate(
                TableUpdateMetadata.create(user_id, message),
                (AddTableVersion(version),), stats=stats or None),
                precondition=self._conflict_precondition(defn, base_fold))
        # partitioned: the positions partitionBy write both finds the
        # matched positions AND discovers the affected partitions from the
        # staging listing (the old groupBy/collect pre-pass was one more
        # full predicate scan); old vectors ride along as file links
        dv_staging = os.path.join(defn.location,
                                  f"_dv_staging-{version.label}")
        upd_staging = os.path.join(defn.location,
                                   f"_upd_staging-{version.label}")
        ops, stats = [], {}
        try:
            upd_out = (updated.repartition(
                           defn.bucket_count,
                           *[F.col(c) for c in defn.bucket_columns])
                       # bucket contract: every task holds exactly one
                       # bucket's rows, so each partition dir it writes
                       # gets files named with that bucket's index
                       if defn.bucket_count
                       # match staging is already partition-clustered —
                       # each read split holds one partition's rows, so
                       # the partitionBy write needs no re-shuffle
                       else updated)

            # the positions and updated-payload writes both read only the
            # materialized match set and write disjoint staging dirs —
            # independent jobs, so submit them from two driver threads
            # and let the scheduler overlap them (one job's task tail
            # back-fills the executors the other frees)
            def _write_positions():
                (positions.write.partitionBy(*pcols).mode("overwrite")
                 .parquet(dv_staging))

            def _write_updated():
                (upd_out.write.partitionBy(*pcols).mode("overwrite")
                 .parquet(upd_staging))

            _parallel_publish(lambda job: job(),
                              [_write_positions, _write_updated])
            rels = _discover_partitions(dv_staging, len(pcols), self.storage)
            if not rels:
                return self._commit(defn, log, TableUpdate(
                    TableUpdateMetadata.create(user_id, message), ()))
            affected = {rel: Partition.parse(rel) for rel in rels}
            # NEW position count per partition, read BEFORE the old
            # vectors are carried into the staging dirs: it is the exact
            # row delta for the carried stats payloads below
            new_pos = dict(_parallel_publish(
                lambda rel: (rel, _dv_row_count(
                    os.path.join(dv_staging, rel), self.storage)),
                sorted(rels)))
            self._carry_old_dvs([
                (os.path.join(dirs[part], _DV_DIR),
                 os.path.join(dv_staging, rel))
                for rel, part in affected.items()
                if self.storage.exists(os.path.join(dirs[part], _DV_DIR))])

            smap = log.stats_map(defn.name)

            def publish(item):
                render, part = item
                new_dir = os.path.join(defn.location, render, version.label)
                _link_data_files(dirs[part], new_dir, self.storage)
                upd_dir = os.path.join(upd_staging, render)
                # footer stats for ONLY this partition's new files, read
                # from the staged dir BEFORE the move (names preserved);
                # the linked files carry the previous payload's entries
                new_stats = (_collect_version_stats(
                                 upd_dir, self.storage,
                                 bloom_columns=defn.bloom_columns,
                                 per_file_always=True)
                             if self.storage.exists(upd_dir) else None)
                _move_data_files(upd_dir, new_dir)
                dv_dst = os.path.join(new_dir, _DV_DIR)
                self.storage.publish_dir(os.path.join(dv_staging, render),
                                         dv_dst)
                prev_rel = os.path.join(
                    render, state.partition_versions[part].label)
                payload = _merged_update_stats(
                    smap.get(prev_rel), new_stats, new_pos[render],
                    defn.bloom_columns)
                if payload is None:
                    dv_total = _dv_row_count(dv_dst, self.storage)
                    payload = _collect_version_stats(
                        new_dir, self.storage,
                        bloom_columns=defn.bloom_columns)
                    if payload:
                        payload["rows"] = max(
                            payload["rows"] - dv_total, 0)
                return part, render, payload

            for part, render, payload in _parallel_publish(
                    publish, sorted(affected.items())):
                ops.append(AddPartitionVersion(part, version))
                if payload:
                    stats[os.path.join(render, version.label)] = payload
        finally:
            self.storage.remove_tree(dv_staging)
            self.storage.remove_tree(upd_staging)
            self.storage.remove_tree(match_staging)
        return self._commit(defn, log, TableUpdate(
            TableUpdateMetadata.create(user_id, message), tuple(ops),
            stats=stats or None),
            precondition=self._conflict_precondition(
                defn, base_fold, {*affected.values()}))

    def update(self, table: TableName | str, set: dict[str, str],
               predicate: str, user_id: str, message: str,
               mode: str = "rewrite") -> CommitResult:
        """Row-level UPDATE (Delta ``UPDATE ... SET ... WHERE`` shape): rows
        matching ``predicate`` get each ``set`` column replaced by its SQL
        expression (evaluated against the pre-update row, all assignments
        simultaneously — standard UPDATE semantics); all other rows are
        byte-preserved. Only partitions containing matching rows are
        rewritten as a fresh version; a NULL predicate leaves the row
        unchanged (SQL semantics). Partition columns cannot be assigned —
        that would move rows across partitions (use delete+insert, the
        same restriction most engines place on UPDATE of partition keys).

        ``mode="dv"``: like :meth:`delete` dv-mode, the unmatched rows are
        never rewritten — the new version dir hardlinks the previous
        files, a ``_dv/`` sidecar masks the matched rows' old positions,
        and ONLY the updated rows are written as new files into the same
        dir. Write cost is O(matched rows) + metadata; parquet only.
        """
        from pyspark.sql import functions as F

        defn, log = self._log(table)
        pcols = list(defn.partition_schema.columns)
        bad = [c for c in set if c in pcols]
        if bad:
            raise ValueError(f"Cannot UPDATE partition column(s) {bad}")
        if mode not in ("rewrite", "dv"):
            raise ValueError(f"mode must be 'rewrite' or 'dv', got {mode!r}")
        if mode == "dv":
            return self._update_dv(defn, log, set, predicate, user_id,
                                   message)
        base_fold = log.head_fold(defn.name)
        current = self.read(table)
        unknown = [c for c in set if c not in current.columns]
        if unknown:
            raise ValueError(f"Unknown column(s) in SET: {unknown}")
        cond = F.coalesce(F.expr(predicate), F.lit(False))

        def apply(df):
            # one select evaluates every assignment against the OLD row
            return df.select(*[
                (F.when(cond, F.expr(set[c])).otherwise(F.col(c)).alias(c)
                 if c in set else F.col(c))
                for c in df.columns])

        ct = "_change_type"

        def cdc_frame(scope_df):
            # exactly-changed rows: matched old as delete + matched new as
            # insert (Delta update_pre/postimage, collapsed to the same
            # delete|insert vocabulary the rest of the CDF uses)
            if not defn.change_data_feed:
                return None
            matched = scope_df.where(cond)
            return (matched.withColumn(ct, F.lit("delete"))
                    .unionByName(apply(matched).withColumn(
                        ct, F.lit("insert"))))

        if not pcols:
            return self._insert(apply(current), table, user_id, message,
                                cdc=cdc_frame(current),
                                conflict_fold=base_fold)
        affected_df = current.where(cond).select(*pcols).distinct()
        if not affected_df.limit(1).collect():
            return self.insert(current.limit(0), table, user_id, message,
                               distribute=False)
        scoped = current.alias("cur").join(
            F.broadcast(affected_df).alias("aff"),
            _null_safe_cond(pcols, "cur", "aff"),
            "left_semi").select(*current.columns)
        return self._insert(apply(scoped), table, user_id, message,
                            cdc=cdc_frame(scoped), conflict_fold=base_fold)

    def remove_partitions(self, table: TableName | str,
                          partitions: list[Partition], user_id: str,
                          message: str) -> CommitResult:
        """Metadata-only partition removal (commit-log ``RemovePartition``,
        reference ``TableVersions.scala:118-119``). Data files remain on disk
        (old versions are never deleted in the reference either)."""
        defn, log = self._log(table)
        ops = [RemovePartition(p) for p in partitions]
        return self._commit(defn, log, TableUpdate(
            TableUpdateMetadata.create(user_id, message), tuple(ops)))

    def clone_table(self, src: TableName | str, dst: TableName | str,
                    user_id: str = "clone",
                    message: str | None = None) -> CommitResult:
        """Shallow clone (Delta ``CREATE TABLE ... SHALLOW CLONE`` shape,
        beyond the reference's surface): ``dst`` becomes a new versioned
        table whose current state equals ``src``'s, with ZERO data rewrite
        and no Spark job — data files are hardlinked (POSIX) or
        server-side-copied (object store) per immutable version dir, the
        version labels are carried over, and ``src``'s footer stats ride the
        clone commit so data skipping works on the clone without re-reading
        any parquet footer. O(#files) metadata ops, O(0) bytes moved on
        POSIX. The clone's log starts fresh: subsequent commits to either
        table are invisible to the other (version dirs are immutable, so
        shared files can never be rewritten — only superseded).
        """
        src_defn, src_log = self._log(src)
        dst_name = TableName.parse(dst) if isinstance(dst, str) else dst
        if self.storage.exists(os.path.join(self.table_location(dst_name),
                                            "_meta.json")):
            # a second clone would LINK the same source files into the same
            # version dirs under collision-renamed names — every row would
            # silently double; cloning onto any existing table would merge
            # states. Refuse: clone only ever creates.
            raise ValueError(
                f"Clone destination {dst_name.fully_qualified_name} already "
                "exists — clone_table only creates new tables")
        cur = src_log.current_version(src_defn.name)
        src_stats = src_log.stats_map(src_defn.name)
        dst_defn = self.create_table(
            dst, schema_ddl=src_defn.schema_ddl,
            partition_columns=list(src_defn.partition_schema.columns) or None,
            format=src_defn.format, user_id=user_id,
            bucket_columns=list(src_defn.bucket_columns) or None,
            bucket_count=src_defn.bucket_count)
        # carry the FULL definition (Delta clones carry table properties):
        # merge_schema (mixed-schema files must read with footer merging),
        # column mapping (cloned files hold PHYSICAL names — without the
        # mapping a renamed column would read as NULL), constraints, bloom
        # columns, generated partitions, change_data_feed. All were already
        # validated on the source.
        extras = dict(
            merge_schema=src_defn.merge_schema,
            bloom_columns=src_defn.bloom_columns,
            check_constraints=src_defn.check_constraints,
            column_mapping=src_defn.column_mapping,
            dropped_columns=src_defn.dropped_columns,
            partition_derivations=src_defn.partition_derivations,
            change_data_feed=src_defn.change_data_feed)
        if any(getattr(dst_defn, k) != v for k, v in extras.items()):
            dst_defn = dataclasses.replace(dst_defn, **extras)
            write_table_meta(dst_defn, self.storage)
        ops: list = []
        stats: dict[str, dict] = {}
        if src_defn.is_snapshot:
            if isinstance(cur, SnapshotTableVersion) \
                    and cur.version != UNVERSIONED:
                sdir = path_for(src_defn.location, cur.version)
                ddir = path_for(dst_defn.location, cur.version)
                _link_data_files(sdir, ddir, self.storage)
                # deletion vectors ride along or dv-deleted rows would
                # resurrect in the clone (src stats are already
                # dv-adjusted, so carrying keeps them exact too)
                _carry_dv_sidecar(sdir, ddir, self.storage)
                ops.append(AddTableVersion(cur.version))
                rel = cur.version.label
                if rel in src_stats:
                    stats[rel] = src_stats[rel]
        else:
            for part, ver in cur.partition_versions.items():
                rel = f"{part.render()}/{ver.label}"
                sdir = os.path.join(src_defn.location, rel)
                ddir = os.path.join(dst_defn.location, rel)
                _link_data_files(sdir, ddir, self.storage)
                _carry_dv_sidecar(sdir, ddir, self.storage)
                ops.append(AddPartitionVersion(part, ver))
                if rel in src_stats:
                    stats[rel] = src_stats[rel]
        message = message or (
            f"shallow clone of {src_defn.name.fully_qualified_name}")
        return self._commit(dst_defn, FileTableVersions(dst_defn.location,
                                                        self.storage),
                            TableUpdate(
                                TableUpdateMetadata.create(user_id, message),
                                tuple(ops), stats=stats or None))

    def _write_snapshot(self, df: DataFrame, defn: TableDefinition,
                        version: Version,
                        cluster_by: list[str] | None = None,
                        drop_col: str | None = None,
                        range_partitions: int | None = None) -> list:
        """Snapshot write: ``<location>/<label>/``
        (reference ``VersionContext.scala:75-78``).

        ``cluster_by``: range-partition + sort on the given columns so each
        output file covers a tight, near-disjoint value range — the
        per-file footer stats then let ``read(stats_filter=...)`` skip
        whole files (OPTIMIZE/ZORDER-style clustering, single-column form).
        A clustered write produces one file per range partition:
        ``range_partitions`` of them when given (``compact``'s
        ``target_partitions``), else the writing session's
        ``defaultParallelism``. On a bucketed table bucketing owns the
        partitioning, so clustering only sorts within each bucket."""
        if defn.bucket_count:
            df = df.repartition(defn.bucket_count,
                                *[F_col(c) for c in defn.bucket_columns])
            if cluster_by:
                df = df.sortWithinPartitions(*cluster_by)
        elif cluster_by:
            n = (range_partitions
                 or self.spark.sparkContext.defaultParallelism)
            df = (df.repartitionByRange(n, *cluster_by)
                  .sortWithinPartitions(*cluster_by))
        if drop_col:
            # projection preserves the partitioning and sort just arranged
            df = df.drop(drop_col)
        target = path_for(defn.location, version)
        df.write.format(defn.format).mode("errorifexists").save(target)
        return [AddTableVersion(version)]

    def _write_partitioned(self, df: DataFrame, defn: TableDefinition,
                           version: Version, distribute: bool = True,
                           cluster_by: list[str] | None = None,
                           drop_col: str | None = None) -> list:
        """Partitioned write via staging dir + O(#partitions) renames.

        One Spark job total (vs two in the reference — the extra
        ``distinct().collect()`` at ``VersionContext.scala:95-115`` is
        replaced by a listing of the staging output). Spark's own
        ``partitionBy`` computes the partition dir names, so partition-value
        stringification (dates, nulls, escaping) always matches what reads
        expect — the desync hazard called out in SURVEY §7 cannot occur.
        """
        pcols = list(defn.partition_schema.columns)
        missing = [c for c in pcols if c not in df.columns]
        if missing:
            raise ValueError(f"DataFrame missing partition columns: {missing}")
        if defn.bucket_count:
            # hash-cluster into exactly bucket_count write tasks on the
            # bucket columns: task index == bucket id rides the part-file
            # name (Hive bucketing's filename contract); deterministic
            # Murmur3 hash partitioning makes co-bucketed tables join
            # bucket-by-bucket (see bucketed_join)
            df = df.repartition(defn.bucket_count,
                                *[F_col(c) for c in defn.bucket_columns])
        elif distribute:
            df = df.repartition(*pcols)
        if cluster_by:
            # partition cols first so each dir's rows stay contiguous in
            # the write task; cluster cols next so maxRecordsPerFile rolls
            # the sorted stream into files covering tight value ranges —
            # which per-file footer stats turn into file-level skipping
            df = df.sortWithinPartitions(*pcols, *cluster_by)
        if drop_col:
            df = df.drop(drop_col)
        staging = os.path.join(defn.location, f"_staging-{version.label}")
        # maxRecordsPerFile keeps a skewed/huge partition from producing one
        # monster file even under distribute=True
        (df.write.format(defn.format).partitionBy(*pcols)
           .option("maxRecordsPerFile", 5_000_000)
           .mode("errorifexists").save(staging))
        try:
            partitions = _discover_partitions(staging, len(pcols), self.storage)

            # atomic rename on POSIX; copy+delete on object stores — safe
            # either way because nothing references the destination until
            # the commit record lands (the log is the atomicity point).
            # Publishes are independent per partition: parallel threads
            # bound a 10k-partition commit by round-trips/16, not their sum
            def publish(rel):
                dest = os.path.join(defn.location, rel, version.label)
                self.storage.publish_dir(os.path.join(staging, rel), dest)
                return AddPartitionVersion(Partition.parse(rel), version)

            return _parallel_publish(publish, partitions)
        finally:
            self.storage.remove_tree(staging)

    def _commit(self, defn: TableDefinition, log: FileTableVersions,
                update: TableUpdate, precondition=None) -> CommitResult:
        """Commit orchestration (reference ``VersionedMetastore.scala:41-54``):
        append to log, derive latest state, diff vs previous view. Our
        current view *is* the log fold, so 'applying' the changes is free and
        atomic at the commit-file write — fixing the reference's non-atomic
        per-partition ALTER TABLE loop (``SparkHiveMetastore.scala:45-54``)."""
        before = log.current_version(defn.name)
        log.commit(defn.name, update, precondition=precondition)
        after = log.current_version(defn.name)
        changes = compute_changes(before, after)
        return CommitResult(after, changes, update.metadata.commit_id)

    @staticmethod
    def _conflict_precondition(defn: TableDefinition, base_fold,
                               touched=None):
        """Commit precondition for optimistic concurrency control: raises
        ``ConcurrentWriteError`` when the head fold's entries for the
        ``touched`` partitions (or the snapshot version) moved since the
        caller captured ``base_fold``. ``touched=None`` on a partitioned
        table guards EVERY partition present in the baseline.

        Static so non-engine writers (the tvx sink) share the exact same
        conflict semantics instead of re-deriving them."""
        if defn.is_snapshot:
            expected_v = base_fold.version

            def precondition(state, _e=expected_v):
                now = state.head_fold().version
                if now != _e:
                    raise ConcurrentWriteError(
                        f"Snapshot table {defn.name.fully_qualified_name} "
                        "changed since this write began")
        else:
            scope = (set(base_fold.partition_versions)
                     if touched is None else touched)
            expected_pv = {p: base_fold.partition_versions.get(p)
                           for p in scope}

            def precondition(state, _e=expected_pv):
                now = state.head_fold().partition_versions
                clash = sorted(p.render() for p, v in _e.items()
                               if now.get(p) != v)
                if clash:
                    raise ConcurrentWriteError(
                        "Concurrent update to partition(s) "
                        f"{clash} of {defn.name.fully_qualified_name}")
        return precondition

    @staticmethod
    def _last_txn_version(log: FileTableVersions,
                          app: str) -> tuple[int, str] | None:
        """Highest committed (txn_version, commit_id) for an app id, or
        None — checkpoint-resumed (see ``FileTableVersions.txn_high_water``)
        so per-batch idempotence probes stay O(recent commits)."""
        return log.txn_high_water(app)

    # ----------------------------------------------------------------- read

    def read(self, table: TableName | str, at_commit: str | None = None,
             partition_filter: dict | None = None,
             stats_filter: dict | None = None,
             at_timestamp=None,
             bucket_filter: dict | None = None) -> DataFrame:
        """Read a versioned table with column mapping applied: renamed
        columns surface under their CURRENT logical name (whatever commit
        is read — mapping is table-level metadata, Delta's name-mode
        semantics) and dropped columns are absent. ``stats_filter`` keys
        are logical names; they are translated to the physical names the
        footer stats were recorded under. See :meth:`_read_physical` for
        the full contract of the remaining parameters."""
        defn, log = self._log(table)
        eff = self._defn_at(defn, log, at_commit=at_commit,
                            at_timestamp=at_timestamp)
        if stats_filter and eff.column_mapping:
            to_phys = dict(eff.column_mapping)
            stats_filter = {to_phys.get(c, c): v
                            for c, v in stats_filter.items()}
        return self._apply_mapping(eff, self._read_physical(
            table, at_commit=at_commit, partition_filter=partition_filter,
            stats_filter=stats_filter, at_timestamp=at_timestamp,
            bucket_filter=bucket_filter))

    def _defn_at(self, defn: TableDefinition, log: FileTableVersions,
                 at_commit: str | None = None,
                 at_timestamp=None) -> TableDefinition:
        """Definition with the column-mapping state AS OF the read's commit.

        Rename/drop are logged commits (``UpdateColumnMapping`` carries the
        state before and after each change), so a time-travel read — or a
        read after ``checkout`` moved the pointer back — shows the schema
        of that era, not today's. Fast path: a current read with the
        pointer at head uses ``_meta.json`` directly (it is the head
        materialization of the fold); only time-travel/rolled-back reads
        pay the log scan."""
        if at_timestamp is not None:
            at_commit = log.commit_id_at_timestamp(at_timestamp)
        if at_commit is None:
            ptr_id, ptr_seq = log._read_pointer()
            if ptr_seq is not None and ptr_seq == log.head_seq():
                return defn
            at_commit = ptr_id
        from .core.model import UpdateColumnMapping

        last_before = first_after = None
        past_target = False
        for u in log.table_state(defn.name).updates:
            for op in u.operations:
                if isinstance(op, UpdateColumnMapping):
                    if not past_target:
                        last_before = op
                    elif first_after is None:
                        first_after = op
            if u.metadata.commit_id == at_commit:
                past_target = True
        if last_before is not None:
            return dataclasses.replace(
                defn, schema_ddl=last_before.schema_ddl,
                column_mapping=last_before.column_mapping,
                dropped_columns=last_before.dropped_columns)
        if first_after is not None:
            return dataclasses.replace(
                defn, schema_ddl=first_after.prev_schema_ddl,
                column_mapping=first_after.prev_column_mapping,
                dropped_columns=first_after.prev_dropped_columns)
        return defn

    def _apply_mapping(self, defn: TableDefinition,
                       df: DataFrame) -> DataFrame:
        """physical→logical projection: a narrow rename/drop on top of any
        scan — costs nothing at runtime (column pruning still reaches the
        files, which know only physical names)."""
        for logical, physical in defn.column_mapping:
            if physical in df.columns:
                df = df.withColumnRenamed(physical, logical)
        drop = [c for c in defn.dropped_columns if c in df.columns]
        return df.drop(*drop) if drop else df

    def _read_physical(self, table: TableName | str,
                       at_commit: str | None = None,
                       partition_filter: dict | None = None,
                       stats_filter: dict | None = None,
                       at_timestamp=None,
                       bucket_filter: dict | None = None) -> DataFrame:
        """Read the current (or time-travel) state of a versioned table.

        Equivalent of reference ``spark.table(fqn)`` resolution via Hive
        partition locations (``examples/.../TableLoader.scala:37-38``, SURVEY
        §3.2) — here the commit log is the version selector.

        ``partition_filter`` prunes *before Spark ever sees a path*:
        ``{"date": "2024-01-01"}`` or ``{"date": ["2024-01-01", "2024-01-02"]}``
        selects matching partitions from the log fold and hands only their
        version dirs to the reader. A ``.where()`` on a partition column
        prunes too (Catalyst PartitionFilters), but only after the file index
        has listed every path — with 10⁵+ partitions that listing is itself
        the bottleneck, so metadata-level pruning is the scale path.

        ``stats_filter`` adds Delta/Iceberg-style *data skipping* over
        non-partition columns: ``{"col": value}`` (equality) or
        ``{"col": (lo, hi)}`` (range) drops version dirs whose recorded
        footer min/max PROVES no row can match. Stats are written at publish
        time from parquet footers into the commit record (Delta-style);
        a dir without stats is always read — skipping is only ever an
        optimization, never a filter: apply the real ``.where()`` on top.

        ``bucket_filter`` (bucketed tables only) prunes at FILE granularity:
        ``{"k": value}`` computes the key's bucket id with the same Murmur3
        hash HashPartitioning used at write time (driver-side, no Spark
        job) and reads only that bucket's files — a point lookup touches
        1/bucket_count of the data. Like stats_filter it selects a
        SUPERSET (same-bucket keys ride along): apply the ``.where()`` on
        top.
        """
        defn, log = self._log(table)
        if bucket_filter:
            self._validate_bucket_filter(defn, bucket_filter)
        if at_timestamp is not None:
            if at_commit is not None:
                raise ValueError("Pass at_commit or at_timestamp, not both")
            at_commit = log.commit_id_at_timestamp(at_timestamp)
        state = log.current_version(defn.name, at_commit=at_commit)
        # ONE map for all dirs, folded from the commit log (no per-dir I/O)
        smap = (log.stats_map(defn.name, at_commit=at_commit)
                if stats_filter else {})
        reader = self.spark.read.format(defn.format)
        if defn.merge_schema:
            # pay the multi-footer merge only on tables that actually evolved
            reader = reader.option("mergeSchema", "true")
        if isinstance(state, SnapshotTableVersion):
            if state.version == UNVERSIONED:
                return self._empty(defn)
            sdir = path_for(defn.location, state.version)
            if stats_filter and _stats_exclude(
                    smap.get(state.version.label), stats_filter):
                return self._empty(defn)
            dv_dirs = self._dv_dirs([sdir])
            if bucket_filter:
                files = self._bucket_filter_files(defn, [sdir], bucket_filter)
                return self._read_files(defn, files, dv_dirs)
            if stats_filter:
                pruned = self._stats_prune_files(
                    defn, {state.version.label: sdir}, smap, stats_filter)
                if pruned is not None:
                    return self._read_files(defn, pruned, dv_dirs)
            return self._apply_dvs(reader.load(sdir), dv_dirs)
        partitions = state.partition_versions
        if partition_filter:
            unknown = set(partition_filter) - set(defn.partition_schema.columns)
            if unknown:
                raise ValueError(f"Not partition columns: {sorted(unknown)}")
            # stored partition values carry Spark's dir-name escaping
            # (e.g. 'x:y' → 'x%3Ay') — escape user-supplied raw values to match
            from .core.model import escape_partition_value as esc
            want = {c: {esc(v)} if not isinstance(v, (list, tuple, set))
                    else {esc(x) for x in v}
                    for c, v in partition_filter.items()}
            partitions = {
                p: ver for p, ver in partitions.items()
                if all(cv.value in want.get(cv.column, {cv.value})
                       for cv in p.column_values)}
        if stats_filter:
            partitions = {
                p: v for p, v in partitions.items()
                if not _stats_exclude(smap.get(f"{p.render()}/{v.label}"),
                                      stats_filter)}
        paths = [os.path.join(defn.location, p.render(), v.label)
                 for p, v in sorted(partitions.items())]
        if not paths:
            return self._empty(defn)
        dv_dirs = self._dv_dirs(paths)
        if bucket_filter:
            files = self._bucket_filter_files(defn, paths, bucket_filter)
            return self._read_files(defn, files, dv_dirs)
        if stats_filter:
            rels = {f"{p.render()}/{v.label}":
                    os.path.join(defn.location, p.render(), v.label)
                    for p, v in sorted(partitions.items())}
            pruned = self._stats_prune_files(defn, rels, smap, stats_filter)
            if pruned is not None:
                return self._read_files(defn, pruned, dv_dirs)
        with self._raw_partition_types():
            scan = reader.option("basePath", defn.location).load(paths)
        return self._declared_types(self._apply_dvs(scan, dv_dirs), defn)

    def _stats_prune_files(self, defn: TableDefinition,
                           rel_dirs: dict[str, str], smap: dict,
                           stats_filter: dict) -> list[str] | None:
        """File-granular data skipping: drop files whose recorded per-file
        range PROVES no row can match. Returns the surviving file list, or
        None when nothing can be dropped (caller keeps the cheaper
        whole-dir read — no listing cost, no file-list plan). Files absent
        from the stats payload are always kept: skipping is an
        optimization, never a filter."""
        kept: list[str] = []
        dropped = False
        for rel, d in rel_dirs.items():
            fstats = (smap.get(rel) or {}).get("files") or {}
            if not fstats:
                kept.append(d)  # whole dir — no per-file stats recorded
                continue
            # no per-entry is_dir probe (one LIST per file on S3): the
            # only subdirs a version dir ever holds are '_'-prefixed
            # sidecars, which the name filter already excludes — the same
            # discipline _read_changes_rows' data_files documents
            names = [n for n in self.storage.list_dir(d)
                     if not n.startswith((".", "_"))]
            if not names:
                # listing came back empty for a dir the log says has files:
                # keep the whole dir rather than silently losing its rows
                kept.append(d)
                continue
            for name in names:
                if name in fstats and _stats_exclude(fstats[name],
                                                     stats_filter):
                    dropped = True
                    continue
                kept.append(os.path.join(d, name))
        return kept if dropped else None

    def read_changes(self, table: TableName | str, since_commit: str,
                     to_commit: str | None = None,
                     row_level: bool = False,
                     per_commit: bool = False) -> DataFrame:
        """Incremental read: rows in partitions/snapshots whose version
        changed after ``since_commit`` (exclusive) up to ``to_commit``
        (inclusive; default head). The change-data-feed primitive for
        downstream incremental pipelines: a consumer remembers the last
        commit id it processed and reads only fresh version directories —
        metadata-level diff (``compute_changes``), zero scan of unchanged
        partitions.

        Default (``row_level=False``): the changed partitions' CURRENT
        rows, no tombstones — removed partitions produce no rows.

        ``row_level=True`` (Delta CDF shape): rows carry a
        ``_change_type`` column — ``"delete"`` for rows live in the
        *before* state but not the *after*, ``"insert"`` for the reverse;
        an updated row appears as a delete+insert pair. The diff is the
        NET change between the two states (not per-commit events). Three
        exactness tiers per changed partition/snapshot pair: EXACT via
        the ``_cdc/`` sidecar for rewrite DELETE/UPDATE/MERGE/upsert
        commits on ``change_data_feed=True`` tables; EXACT via the
        vector delta for deletion-vector commits (O(changed positions +
        new files)); otherwise file-granular delete-all+insert-all (the
        same coarseness Delta CDF has without CDC files).

        ``per_commit=True`` (with ``row_level``): per-commit EVENTS
        tagged ``_commit_id`` instead of the net span diff — each
        single-commit pair uses its sidecar/vector, so multi-commit
        spans stay row-exact where the net path must go coarse. Plan
        size O(#commits in span).
        """
        defn, log = self._log(table)
        before = log.current_version(defn.name, at_commit=since_commit)
        head_id = to_commit or log.current_commit_id(defn.name)
        after = log.current_version(defn.name, at_commit=head_id)
        eff = self._defn_at(defn, log, at_commit=head_id)
        if row_level and per_commit:
            # Delta-CDF-shaped per-commit EVENTS (one diff per commit,
            # tagged _commit_id) instead of the net span diff: every
            # single-commit pair can use its _cdc sidecar or vector delta,
            # so a multi-commit span stays row-exact where the net path
            # would fall back coarse. Plan size is O(#commits in span) —
            # meant for bounded catch-up reads; continuous consumers use
            # the streaming change feed, which advances per span anyway.
            from pyspark.sql import functions as F

            start = log._find_seq(since_commit)
            if start is None:
                raise UnknownCommitError(f"Unknown commit id: {since_commit}")
            end = log._find_seq(head_id)
            out = None
            # each iteration's before-state is the previous one's after —
            # carry it so a K-commit span folds the log K times, not 2K
            b = before
            for seq in range(start + 1, (end or 0) + 1):
                cid = log.commit_id_at(seq)
                a = log.current_version(defn.name, at_commit=cid,
                                        at_seq=seq)
                df = (self._read_changes_rows(
                        defn, self._defn_at(defn, log, at_commit=cid), b, a)
                      .withColumn("_commit_id", F.lit(cid)))
                # allowMissingColumns: a span crossing an evolve_schema
                # commit unions frames with different column sets — the
                # pre-evolution commits surface the new columns as NULL
                out = (df if out is None
                       else out.unionByName(df, allowMissingColumns=True))
                b = a
            if out is None:
                return (self._read_changes_rows(defn, eff, after, after)
                        .withColumn("_commit_id", F.lit("")))
            return out
        if row_level:
            return self._read_changes_rows(defn, eff, before, after)
        from .core.metastore import (AddPartition, UpdatePartitionVersion,
                                     UpdateTableVersion)

        changes = compute_changes(before, after)
        reader = self.spark.read.format(defn.format)
        if defn.merge_schema:
            reader = reader.option("mergeSchema", "true")
        def require_dirs(dirs: list[str]) -> list[str]:
            missing = [d for d in dirs if not self.storage.is_dir(d)]
            if missing:
                raise ValueError(
                    f"version dir {missing[0]} was vacuumed: changes over "
                    "this span are no longer readable — use commits within "
                    "the vacuum retention")
            return dirs

        if isinstance(after, SnapshotTableVersion):
            if any(isinstance(op, UpdateTableVersion) for op in changes.operations):
                sdir = path_for(defn.location, after.version)
                require_dirs([sdir])
                return self._apply_mapping(eff, self._apply_dvs(
                    reader.load(sdir), self._dv_dirs([sdir])))
            return self._empty(defn)
        touched = require_dirs(sorted(
            os.path.join(defn.location, op.partition.render(), op.version.label)
            for op in changes.operations
            if isinstance(op, (AddPartition, UpdatePartitionVersion))))
        if not touched:
            return self._empty(defn)
        with self._raw_partition_types():
            scan = reader.option("basePath", defn.location).load(touched)
        return self._apply_mapping(eff, self._declared_types(self._apply_dvs(
            scan, self._dv_dirs(touched)), defn))

    def _read_changes_rows(self, defn: TableDefinition,
                           eff: TableDefinition, before, after) -> DataFrame:
        """Row-level CDF (see :meth:`read_changes` ``row_level=True``).

        Driver work is metadata only: per changed partition, compare the
        before/after dirs' file listings; a dir pair where the after set
        is a superset (the deletion-vector commit shape: hardlinks +
        possibly new files) diffs EXACTLY via the vector delta, anything
        else falls back to delete-all + insert-all of that pair. All
        refined pairs share ONE before-scan (serving both deletes and
        resurrections via a tagged position join); inserted rows load
        ONLY the files new in the after dirs — which files are new is
        decided driver-side from the listings, so a pure dv-delete span
        never scans the after state at all."""
        from pyspark.sql import functions as F

        loc = defn.location
        pairs: list[tuple[str | None, str | None]] = []
        if defn.is_snapshot:
            b = (path_for(loc, before.version)
                 if isinstance(before, SnapshotTableVersion)
                 and before.version != UNVERSIONED else None)
            a = (path_for(loc, after.version)
                 if isinstance(after, SnapshotTableVersion)
                 and after.version != UNVERSIONED else None)
            if b != a:
                pairs.append((b, a))
        else:
            bmap = getattr(before, "partition_versions", {})
            amap = getattr(after, "partition_versions", {})
            for p in sorted(set(bmap) | set(amap), key=lambda x: x.render()):
                bv, av = bmap.get(p), amap.get(p)
                if bv == av:
                    continue
                pairs.append((
                    os.path.join(loc, p.render(), bv.label) if bv else None,
                    os.path.join(loc, p.render(), av.label) if av else None))

        def data_files(d: str) -> set[str]:
            # name-filter only: the only non-data entries a version dir
            # holds (_dv/, _cdc/, _SUCCESS, .crc) start with _ or ., and
            # a per-entry is_dir probe costs one LIST per file on S3
            return {f for f in self.storage.list_dir(d)
                    if not f.startswith((".", "_"))}

        def require_dir(d: str) -> str:
            # a vacuumed dir means this span's row-level diff is no longer
            # reconstructible — fail with the reason instead of a raw
            # PATH_NOT_FOUND (or, worse, a silent under-report of deletes).
            # CDC-sidecar pairs never reach here: the sidecar alone is
            # sufficient, so they stay exact even past retention.
            if not self.storage.is_dir(d):
                raise ValueError(
                    f"version dir {d} was vacuumed: row-level changes over "
                    "this span are no longer reconstructible — use a "
                    "since_commit within the vacuum retention (CDC-sidecar "
                    "commits on change_data_feed tables remain exact)")
            return d

        coarse_del, coarse_ins, refined, cdc_dirs = [], [], [], []
        for b, a in pairs:
            if b is None:
                if a is not None:
                    coarse_ins.append(require_dir(a))
            elif a is None:
                coarse_del.append(require_dir(b))
            else:
                # a _cdc sidecar diffed against EXACTLY this before-dir is
                # row-exact for the pair (rewrite commits); multi-commit
                # spans miss the marker and fall through. A matching
                # marker over an EMPTY sidecar means the rewrite changed
                # no rows in this pair — skip it entirely (the coarse
                # path would fabricate a delete-all+insert-all).
                acdc = os.path.join(a, _CDC_DIR)
                if self._cdc_before(acdc) == os.path.basename(b):
                    if any(not f.startswith((".", "_"))
                           for f in self.storage.list_dir(acdc)):
                        cdc_dirs.append(acdc)
                    continue
                require_dir(b), require_dir(a)
                bf, af = data_files(b), data_files(a)
                if bf <= af:
                    refined.append((b, a, bf, af))
                else:
                    coarse_del.append(b)
                    coarse_ins.append(a)

        fields = self._schema_fields(eff)
        cols = [n for n, _ in fields]
        ct = "_change_type"

        def fill_missing(df: DataFrame) -> DataFrame:
            # a pre-evolution dir (or sidecar) holds files that predate a
            # widened schema: the evolved columns exist in NO loaded file,
            # so even mergeSchema can't surface them — null-fill to the
            # declared type (exactly what reading the full table does)
            for n, t in fields:
                if n not in df.columns:
                    df = df.withColumn(n, F.lit(None).cast(t))
            return df

        def load(dirs: list[str]) -> DataFrame:
            r = self.spark.read.format(defn.format)
            if defn.merge_schema:
                r = r.option("mergeSchema", "true")
            if defn.is_snapshot:
                return r.load(dirs)
            with self._raw_partition_types():
                return r.option("basePath", loc).load(dirs)

        def finalize(df: DataFrame, kind: str | None) -> DataFrame:
            # kind=None: the frame carries the change type under the
            # INTERNAL __ct name (the refined branch tags rows at the
            # position join; an internal name keeps the join collision-
            # free even if the table declares a column literally called
            # _change_type, and the alias below reproduces the overwrite
            # semantics of the kind-literal branches — ADVICE r11 #2)
            if not defn.is_snapshot:
                df = self._declared_types(df, defn)
            df = fill_missing(self._apply_mapping(eff, df))
            if kind is None:
                # withColumn (not an alias in the select) so a declared
                # column named _change_type is OVERWRITTEN by the tag,
                # exactly like the kind-literal branch below
                return (df.select(*cols, "__ct")
                        .withColumn(ct, F.col("__ct")).drop("__ct"))
            return df.select(*cols).withColumn(ct, F.lit(kind))

        out: list[DataFrame] = []
        if cdc_dirs:
            # sidecars are always parquet (regardless of table format) and
            # carry _change_type as a file column; partition values come
            # back from the render path segments exactly as the main read
            r = self.spark.read.format("parquet")
            if defn.merge_schema:
                r = r.option("mergeSchema", "true")
            with self._raw_partition_types():
                scan = (r.load(sorted(cdc_dirs)) if defn.is_snapshot
                        else r.option("basePath", loc).load(sorted(cdc_dirs)))
            if not defn.is_snapshot:
                scan = self._declared_types(scan, defn)
            out.append(fill_missing(self._apply_mapping(eff, scan))
                       .select(*cols, ct))
        if coarse_del:
            out.append(finalize(self._apply_dvs(
                load(coarse_del), self._dv_dirs(coarse_del)), "delete"))
        if coarse_ins:
            out.append(finalize(self._apply_dvs(
                load(coarse_ins), self._dv_dirs(coarse_ins)), "insert"))
        if refined:
            strip = _norm_path_expr(_uri_decode_expr(F.col("__dv_dir")))
            slots = self.spark.createDataFrame(
                [(_norm_path(b), i)
                 for i, (b, _, _, _) in enumerate(refined)]
                + [(_norm_path(a), i)
                   for i, (_, a, _, _) in enumerate(refined)],
                "mdir string, __slot int")

            def with_slot(df: DataFrame) -> DataFrame:
                return (df.withColumn("__dv_dir", strip)
                        .join(F.broadcast(slots),
                              F.col("__dv_dir") == F.col("mdir"))
                        .drop("mdir"))

            def positions(dirs: list[str]) -> DataFrame:
                dv = self._dv_dirs(dirs)
                if not dv:
                    return self.spark.createDataFrame(
                        [], "__dv_dir string, __dv_file string, "
                            "__dv_idx bigint, __slot int")
                return with_slot(self._dv_frame(dv))

            key = ["__slot", "__dv_file", "__dv_idx"]
            a_pos = positions([a for _, a, _, _ in refined]).select(*key)
            b_pos = positions([b for b, _, _, _ in refined]).select(*key)
            delta = a_pos.join(b_pos, key, "left_anti")
            drop_keys = ["__dv_dir", "__dv_file", "__dv_idx", "__slot"]
            # ONE before-scan serves BOTH row-recovery branches: deletes
            # (positions newly vectored: a−b) and resurrections (positions
            # un-vectored by a restore: b−a; their files exist in both
            # dirs — refined requires a name superset — and version files
            # are immutable, so the before copy is byte-identical). The
            # two position sets are disjoint by construction and each is
            # distinct, so an inner join against their tagged union emits
            # every matching row exactly once, with the tag AS the change
            # type. The previous shape paid three full scans here (before
            # for deletes, after for inserts, after again for
            # resurrections); this pays one.
            tagged = (delta.withColumn("__ct", F.lit("delete"))
                      .unionByName(b_pos.join(a_pos, key, "left_anti")
                                   .withColumn("__ct", F.lit("insert"))))
            bscan = with_slot(self._with_dv_keys(
                load([b for b, _, _, _ in refined])))
            out.append(finalize(
                bscan.join(tagged, key, "inner").drop(*drop_keys), None))
            # inserts: rows of files NEW in the after dirs. Which files
            # are new is path metadata the driver already listed for the
            # superset check (af − bf), so resolve the old file-name
            # anti-join driver-side and scan ONLY the new files — a pure
            # dv-delete span scans nothing at all here. Rows of new files
            # that are themselves vectored in the after state (a later
            # delete in the same span) still anti-join out via a_pos.
            new_files = [os.path.join(a, f)
                         for _, a, bf, af in refined
                         for f in sorted(af - bf)]
            if new_files:
                ascan = with_slot(self._with_dv_keys(load(new_files)))
                out.append(finalize(
                    ascan.join(a_pos, key, "left_anti").drop(*drop_keys),
                    "insert"))
        if not out:
            return (self._apply_mapping(eff, self._empty(eff))
                    .withColumn(ct, F.lit("")).limit(0))
        result = out[0]
        for df in out[1:]:
            result = result.unionByName(df)
        return result

    def _commit_mapping_change(self, defn: TableDefinition, new_ddl: str,
                               new_mapping: tuple, new_dropped: tuple,
                               user_id: str, message: str) -> None:
        """Record a rename/drop as a logged commit (before/after state in
        the op), THEN materialize it to ``_meta.json``. The commit append
        is the serialization point: two concurrent mapping changes CAS-
        conflict instead of last-write-wins on the meta file, and history/
        time-travel can see (and reconstruct) the change."""
        from .core.model import UpdateColumnMapping

        prev = (defn.schema_ddl, tuple(defn.column_mapping),
                tuple(defn.dropped_columns))
        op = UpdateColumnMapping(new_ddl, tuple(new_mapping),
                                 tuple(new_dropped), *prev)

        def precondition(state):
            last = None
            for u in state.updates:
                for o in u.operations:
                    if isinstance(o, UpdateColumnMapping):
                        last = o
            if last is not None and (last.schema_ddl, last.column_mapping,
                                     last.dropped_columns) != prev:
                raise ConcurrentWriteError(
                    f"{defn.name.fully_qualified_name}: column mapping "
                    "changed concurrently; re-read the table and retry")

        log = FileTableVersions(defn.location, self.storage)
        self._commit(defn, log,
                     TableUpdate(TableUpdateMetadata.create(user_id, message),
                                 (op,)),
                     precondition=precondition)
        write_table_meta(dataclasses.replace(
            defn, schema_ddl=new_ddl, column_mapping=tuple(new_mapping),
            dropped_columns=tuple(new_dropped)), self.storage)

    def rename_column(self, table: TableName | str, old: str,
                      new: str, user_id: str = "unknown") -> None:
        """Metadata-only column rename (Delta column-mapping name mode):
        no data file is touched — data keeps its original PHYSICAL name;
        reads surface the new logical name, writes translate back. The
        change is a logged commit: it appears in ``history()``, conflicts
        with concurrent mapping changes, and reads of earlier commits
        (time travel / after ``checkout``) show the schema of that era.
        Partition / bucket / Bloom columns and columns referenced by
        constraints or derivations are rewrite-coupled to their name and
        cannot be renamed."""
        import re

        defn = self.definition(table)
        self._guard_structural_column(defn, old, "rename")
        fields = self._schema_fields(defn)
        names = [n for n, _ in fields]
        if old not in names:
            raise ValueError(f"No column {old!r} in "
                             f"{defn.name.fully_qualified_name}")
        if new in names:
            raise ValueError(f"Column {new!r} already exists")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"Invalid column name {new!r}")
        # chain through an existing mapping: the physical name is wherever
        # the data actually lives
        to_phys = dict(defn.column_mapping)
        physical = to_phys.pop(old, old)
        ghosts = set(to_phys.values()) | set(defn.dropped_columns)
        if new in ghosts and new != physical:
            raise ValueError(
                f"Cannot rename to {new!r}: the name is still the physical "
                "name of another renamed or dropped column in data files")
        if new != physical:  # identity mappings carry no information
            to_phys[new] = physical
        ddl = ", ".join(f"{new if n == old else n} {t}" for n, t in fields)
        self._commit_mapping_change(
            defn, ddl, tuple(sorted(to_phys.items())),
            tuple(defn.dropped_columns), user_id,
            f"RENAME COLUMN {old} TO {new}")

    def drop_column(self, table: TableName | str, col: str,
                    user_id: str = "unknown") -> None:
        """Metadata-only DROP COLUMN: the physical data stays in every
        version (old commits remain byte-identical); reads simply exclude
        it. The physical name stays reserved — schema evolution refuses to
        reuse it (the bytes would resurrect under the new column). Logged
        as a commit, like :meth:`rename_column`."""
        defn = self.definition(table)
        self._guard_structural_column(defn, col, "drop")
        fields = self._schema_fields(defn)
        if col not in [n for n, _ in fields]:
            raise ValueError(f"No column {col!r} in "
                             f"{defn.name.fully_qualified_name}")
        to_phys = dict(defn.column_mapping)
        physical = to_phys.pop(col, col)
        ddl = ", ".join(f"{n} {t}" for n, t in fields if n != col)
        self._commit_mapping_change(
            defn, ddl, tuple(sorted(to_phys.items())),
            tuple(sorted(set(defn.dropped_columns) | {physical})),
            user_id, f"DROP COLUMN {col}")

    def _schema_fields(self, defn: TableDefinition) -> list[tuple[str, str]]:
        from .streaming.source import _schema_fields

        if not defn.schema_ddl:
            raise ValueError(
                f"{defn.name.fully_qualified_name} has no declared schema; "
                "column DDL needs one (pass schema_ddl to create_table)")
        return _schema_fields(defn.schema_ddl)

    def _guard_structural_column(self, defn: TableDefinition, col: str,
                                 verb: str) -> None:
        import re

        if col in defn.partition_schema.columns:
            raise ValueError(f"Cannot {verb} partition column {col!r}")
        if col in defn.bucket_columns:
            raise ValueError(f"Cannot {verb} bucket column {col!r}")
        if col in defn.bloom_columns:
            raise ValueError(f"Cannot {verb} Bloom-indexed column {col!r}")
        # Spark SQL resolves identifiers case-insensitively by default, so
        # the reference match must too: a constraint written 'V >= 0' still
        # pins column 'v'
        pat = re.compile(rf"\b{re.escape(col)}\b", re.IGNORECASE)
        refs = [c for c in defn.check_constraints if pat.search(c)]
        refs += [e for _, e in defn.partition_derivations if pat.search(e)]
        if refs:
            raise ValueError(
                f"Cannot {verb} column {col!r}: referenced by constraint/"
                f"derivation expression(s) {refs}")

    def checkout(self, table: TableName | str, commit_id: str) -> None:
        """Move the current pointer (reference ``VersionedMetastore.scala:59-66``).
        Metadata-only; subsequent ``read`` sees the rolled-back state."""
        defn, log = self._log(table)
        log.set_current_version(defn.name, commit_id)

    def restore(self, table: TableName | str, commit_id: str,
                user_id: str = "unknown",
                message: str | None = None) -> CommitResult:
        """Roll back by committing FORWARD (Delta ``RESTORE`` shape;
        extension — the reference only has the pointer-moving ``checkout``):
        append a new commit whose ops rewrite the current state to equal the
        state at ``commit_id``. Unlike ``checkout``, history stays linear
        and append-only — the bad commits remain auditable, the restore
        itself is attributed, and concurrent readers never observe the
        pointer jumping backwards.

        Metadata-only: version dirs are re-referenced, never copied. Raises
        if a directory the target state needs has been vacuumed away, and
        refuses the snapshot↔partitioned impossibility the same way the
        reference's ``computeChanges`` does (``Metastore.scala:56-84``)."""
        defn, log = self._log(table)
        target = log.current_version(defn.name, at_commit=commit_id)
        # diff against the HEAD fold, not the pointer: the restore ops land
        # on top of the full-log fold, so a pointer moved by checkout would
        # otherwise make the committed state neither target nor history
        current = log.head_fold(defn.name)
        ops: list = []
        if isinstance(target, SnapshotTableVersion):
            if not isinstance(current, SnapshotTableVersion):
                raise ValueError(
                    "Cannot restore a partitioned table to a snapshot state")
            if target.version != current.version:
                if target.version == UNVERSIONED:
                    raise ValueError(
                        "Cannot restore to the pre-first-insert state")
                ops.append(AddTableVersion(target.version))
            needed = ([] if target.version == UNVERSIONED
                      else [path_for(defn.location, target.version)])
        else:
            if isinstance(current, SnapshotTableVersion):
                raise ValueError(
                    "Cannot restore a snapshot table to a partitioned state")
            for p, v in sorted(target.partition_versions.items()):
                if current.partition_versions.get(p) != v:
                    ops.append(AddPartitionVersion(p, v))
            for p in sorted(set(current.partition_versions)
                            - set(target.partition_versions)):
                ops.append(RemovePartition(p))
            needed = [os.path.join(defn.location, p.render(), v.label)
                      for p, v in sorted(target.partition_versions.items())]
        missing = [d for d in needed if not self.storage.is_dir(d)]
        if missing:
            raise ValueError(
                f"Cannot restore {defn.name.fully_qualified_name} to "
                f"{commit_id}: version dir(s) vacuumed away: {missing}")
        if not ops:
            # already at the target state — still record the intent so the
            # restore is auditable, but with a no-op operation list
            pass
        # restore the column-mapping/schema state of the target era too
        # (Delta RESTORE also restores schema): forward-commit the change
        # and re-materialize _meta.json
        from .core.model import UpdateColumnMapping

        eff = self._defn_at(defn, log, at_commit=commit_id)
        tgt = (eff.schema_ddl, tuple(eff.column_mapping),
               tuple(eff.dropped_columns))
        cur = (defn.schema_ddl, tuple(defn.column_mapping),
               tuple(defn.dropped_columns))
        if tgt != cur:
            ops.append(UpdateColumnMapping(*tgt, *cur))

        def precondition(state, _base=current):
            # strict whole-table OCC: the restore ops were diffed against
            # _base; ANY commit landing in between would make the result
            # neither the target state nor any historical state
            if state.head_fold() != _base:
                raise ConcurrentWriteError(
                    f"{defn.name.fully_qualified_name} changed since this "
                    "restore computed its diff — re-run the restore")

        result = self._commit(defn, log, TableUpdate(
            TableUpdateMetadata.create(
                user_id, message or f"restore to {commit_id}"),
            tuple(ops)), precondition=precondition)
        if tgt != cur:
            write_table_meta(dataclasses.replace(
                defn, schema_ddl=eff.schema_ddl,
                column_mapping=tuple(eff.column_mapping),
                dropped_columns=tuple(eff.dropped_columns)), self.storage)
        return result

    def sync_catalog(self, table: TableName | str,
                     catalog_table: str | None = None) -> int:
        """Point a real Spark-catalog table at the current versioned
        locations so vanilla ``spark.table()`` / any shared-session SQL tool
        reads this table's current state — the reference's metastore-sync
        behavior (§2.C; ``SparkHiveMetastore.scala:45-99``). Re-run after
        commits or checkouts to re-converge; every op is idempotent."""
        from .catalog import sync_catalog as _sync

        defn, log = self._log(table)
        return _sync(self.spark, defn, log, catalog_table)

    def bucketed_join(self, *tables: TableName | str,
                      how: str = "inner") -> DataFrame:
        """Bucket-wise map join of two or more co-bucketed versioned tables.

        All tables must share an identical bucket spec (columns + count,
        declared at ``create_table``). Each insert hash-clusters rows into
        exactly ``bucket_count`` write tasks on the bucket columns, and the
        write task's index rides the part-file name — so bucket *b* of one
        table can only match bucket *b* of the others (same deterministic
        Murmur3 hash partitioning). This method builds the union of the
        per-bucket joins; with N tables each branch chains N−1 joins.

        Why this matters at 100 TB: a dimension table too large to
        broadcast WHOLE (say 100 GB) still has broadcastable BUCKETS
        (100 GB / 1024 ≈ 100 MB), so every branch becomes a broadcast hash
        join and the fact table is never shuffled — the classic Hive
        "bucket map join", expressed over versioned file sets. The N-way
        form streams each bucket's LARGEST side through broadcasts of the
        rest, so a star-schema join of one fact and several co-bucketed
        dimensions runs with zero shuffles end to end. Without
        co-bucketing the same join shuffles every side on the key.

        The join keys are the bucket columns; non-key column names must be
        disjoint across tables. ``how`` other than ``"inner"`` is limited
        to exactly two tables (N-way outer-join semantics depend on join
        order, which this method deliberately does not expose). Branch
        count equals ``bucket_count``; keep it ≲ a few thousand or the
        union plan itself gets heavy (documented Hive guidance applies).
        """
        if len(tables) < 2:
            raise ValueError("bucketed_join needs at least two tables")
        if how != "inner" and len(tables) != 2:
            raise ValueError(
                f"how={how!r} is only supported for exactly two tables "
                "(N-way outer semantics are join-order-dependent)")
        defns = [self._log(t)[0] for t in tables]
        for d in defns:
            if not d.bucket_count:
                raise ValueError(
                    f"{d.name.fully_qualified_name} is not bucketed; "
                    "declare bucket_columns/bucket_count at create_table")
        head = defns[0]
        for d in defns[1:]:
            if (head.bucket_columns != d.bucket_columns
                    or head.bucket_count != d.bucket_count):
                raise ValueError(
                    "bucket specs differ: "
                    f"{head.bucket_columns}×{head.bucket_count} vs "
                    f"{d.bucket_columns}×{d.bucket_count} "
                    f"({d.name.fully_qualified_name})")
        keys = list(head.bucket_columns)
        buckets = [self._bucket_files(d) for d in defns]
        from pyspark.sql import functions as F

        # broadcast only sides under Spark's broadcast threshold — a bucket
        # of a fact-sized table must not be forced into a broadcast (OOM);
        # such a side joins plain (still bucket-local, no shuffle needed
        # beyond the branch's own join)
        threshold = _parse_bytes_conf(self.spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"))

        def _size(files: list[str]) -> int:
            return sum(self.storage.file_size(f) for f in files)

        # dv-dir probes hoisted out of the branch loop: every bucket of a
        # table shares the same version dirs, so probing per (branch,
        # table) would re-exists() the same dirs bucket_count times —
        # O(buckets × dirs) sequential driver round trips on an object
        # store before any Spark job runs. One probe per table instead.
        table_dvs = [self._dv_dirs(sorted(
            {os.path.dirname(p) for fs in bk.values() for p in fs}))
            for bk in buckets]

        branches = []
        for b in range(head.bucket_count):
            files = [bk.get(b, []) for bk in buckets]
            if not any(files):
                continue
            if how == "inner" and not all(files):
                continue  # inner join: a missing side yields no rows
            # apply any deletion vectors on the touched version dirs —
            # delete/update(mode="dv") is supported on bucketed tables, so
            # vectors must be applied after per-bucket file selection or
            # dv-deleted rows would resurrect in every join branch
            # column mapping applies like every other read surface:
            # renamed columns surface their logical names, dropped columns
            # stay hidden (bucket columns are structural — never renamed —
            # so the join keys are unaffected)
            dirs_of = [{os.path.dirname(p) for p in f} for f in files]
            dfs = [self._apply_mapping(d, self._read_files(
                d, f, [v for v in dvs if v in touched]))
                for d, f, dvs, touched
                in zip(defns, files, table_dvs, dirs_of)]
            sizes = [_size(f) for f in files]
            # stream the largest side through the others; for the 2-table
            # outer form the left table must stay the stream side
            stream = (max(range(len(sizes)), key=sizes.__getitem__)
                      if how == "inner" else 0)
            out = dfs[stream]
            for i in range(len(dfs)):
                if i == stream:
                    continue
                side = (F.broadcast(dfs[i])
                        if threshold > 0 and sizes[i] <= threshold
                        else dfs[i])
                out = out.join(side, keys, how)
            branches.append(out)
        if not branches:
            raise UnknownTableError("all joined tables are empty")
        out = branches[0]
        for br in branches[1:]:
            out = out.unionByName(br)
        return out

    def _bucket_files(self, defn: TableDefinition) -> dict[int, list[str]]:
        """Current state's data files grouped by bucket id parsed from the
        part-file name (Hive's filename contract; append-linked files keep
        their original part index inside the prefixed name). A data file
        WITHOUT a parseable index in a bucketed table is contract
        corruption — skipping it would silently drop its rows from every
        bucketed_join branch, so fail loudly instead."""
        from .core.paths import parse_bucket_index

        state = FileTableVersions(defn.location, self.storage) \
            .current_version(defn.name)
        if isinstance(state, SnapshotTableVersion):
            dirs = ([] if state.version == UNVERSIONED
                    else [path_for(defn.location, state.version)])
        else:
            dirs = [os.path.join(defn.location, p.render(), v.label)
                    for p, v in state.partition_versions.items()]
        out: dict[int, list[str]] = {}
        for d in dirs:
            for name in self.storage.list_dir(d):
                if name.startswith((".", "_")):
                    continue
                b = parse_bucket_index(name)
                if b is None:
                    raise ValueError(
                        f"data file {os.path.join(d, name)} in bucketed "
                        f"table {defn.name.fully_qualified_name} has no "
                        "parseable part index — the filename/bucket "
                        "contract is broken (every engine/sink write "
                        "stamps one); bucketed_join would silently drop "
                        "these rows")
                out.setdefault(b, []).append(os.path.join(d, name))
        return out

    def _bucket_filter_files(self, defn: TableDefinition, dirs: list[str],
                             bucket_filter: dict) -> list[str]:
        """Files of the single bucket the filtered key hashes to, across the
        given version dirs. Driver-side Murmur3 (core/sparkhash.py) — the
        exact hash repartition(n, cols) used at write time. A file with no
        parseable index is INCLUDED: the filter selects a superset by
        contract, so pruning may only ever over-read."""
        from .core.paths import parse_bucket_index
        from .core.sparkhash import bucket_id

        types = {f.name: f.dataType.simpleString() for f in
                 self.spark.createDataFrame([], defn.schema_ddl).schema.fields}
        b = bucket_id([bucket_filter[c] for c in defn.bucket_columns],
                      [types[c] for c in defn.bucket_columns],
                      defn.bucket_count)
        out = []
        for d in dirs:
            for name in self.storage.list_dir(d):
                if name.startswith((".", "_")):
                    continue
                got = parse_bucket_index(name)
                if got is None or got == b:
                    out.append(os.path.join(d, name))
        return out

    def _validate_bucket_filter(self, defn: TableDefinition,
                                bucket_filter: dict) -> None:
        if not defn.bucket_count:
            raise ValueError(
                f"{defn.name.fully_qualified_name} is not bucketed; "
                "bucket_filter needs bucket_columns/bucket_count")
        if set(bucket_filter) != set(defn.bucket_columns):
            raise ValueError(
                f"bucket_filter must cover exactly the bucket columns "
                f"{list(defn.bucket_columns)}, got {sorted(bucket_filter)}")

    def _read_files(self, defn: TableDefinition, files: list[str],
                    dv_dirs: list[str] | None = None) -> DataFrame:
        if not files:
            return self._empty(defn)
        reader = self.spark.read.format(defn.format)
        if defn.merge_schema:
            reader = reader.option("mergeSchema", "true")
        with self._raw_partition_types():
            scan = reader.option("basePath", defn.location).load(files)
        return self._declared_types(self._apply_dvs(scan, dv_dirs or []),
                                    defn)

    def _write_cdc_sidecars(self, cdc: DataFrame, defn: TableDefinition,
                            version, ops, previous) -> None:
        """Write this commit's exactly-changed rows as ``_cdc/`` parquet
        sidecars inside the new version dirs (Delta CDC-file shape). Each
        sidecar carries a ``_before`` marker naming the version label it
        was diffed against, so readers use it ONLY for the exact
        before/after pair it describes (a multi-commit span falls back to
        the vector-delta / coarse paths). One distributed ``partitionBy``
        job over the changed rows; driver work is links + markers.

        Partitioned tables normally take the OVERLAPPED path instead:
        ``_insert`` runs :meth:`_stage_cdc_sidecars` on a second driver
        thread concurrent with the main data write and then calls
        :meth:`_publish_cdc_staging` — this method is the sequential
        composition of the same two halves (kept for the snapshot path,
        whose sidecar lands inside the version dir the main write is
        still producing and so must wait for it)."""
        if defn.is_snapshot:
            if not any(isinstance(op, AddTableVersion) for op in ops):
                return
            dst = os.path.join(path_for(defn.location, version), _CDC_DIR)
            self._cdc_physical_frame(cdc, defn).write.mode(
                "overwrite").parquet(dst)
            before = (previous.version.label
                      if isinstance(previous, SnapshotTableVersion)
                      and previous.version != UNVERSIONED else "")
            self.storage.write_atomic(os.path.join(dst, _CDC_BEFORE), before)
            return
        try:
            self._stage_cdc_sidecars(cdc, defn, version)
            self._publish_cdc_staging(defn, version, ops, previous)
        finally:
            self.storage.remove_tree(self._cdc_staging_path(defn, version))

    def _cdc_physical_frame(self, cdc: DataFrame,
                            defn: TableDefinition) -> DataFrame:
        """CDC rows in on-disk shape: pin every column to its DECLARED
        type before the write (same guarantee the dv-update path gives
        its updated-row files — the sidecar unions against other commits'
        sidecars and the main scans, so a drifted type would poison those
        unions), then logical→physical renames, same as the data path."""
        from pyspark.sql import functions as F

        declared = ({f.name: f.dataType for f in self.spark.createDataFrame(
            [], defn.schema_ddl).schema.fields} if defn.schema_ddl else {})
        if declared:
            cdc = cdc.select(*[
                (F.col(c).cast(declared[c]).alias(c) if c in declared
                 else F.col(c)) for c in cdc.columns])
        for logical, physical in defn.column_mapping:
            if logical in cdc.columns:
                cdc = cdc.withColumnRenamed(logical, physical)
        return cdc

    @staticmethod
    def _cdc_staging_path(defn: TableDefinition, version) -> str:
        return os.path.join(defn.location, f"_cdc_staging-{version.label}")

    def _start_cdc_staging(self, cdc: DataFrame, defn: TableDefinition,
                           version) -> tuple:
        """Submit :meth:`_stage_cdc_sidecars` from a daemon driver thread
        so the sidecar staging job overlaps the main data write (Spark
        job submission is thread-safe; the same pattern the dv-update
        path uses for its two staging writes). Returns ``(thread,
        errbox)`` — the caller joins and re-raises any captured error
        before publishing."""
        import threading

        errbox: list = []

        def run():
            try:
                self._stage_cdc_sidecars(cdc, defn, version)
            except BaseException as exc:  # noqa: BLE001 — re-raised at join
                errbox.append(exc)

        thread = threading.Thread(target=run, name="tvx-cdc-staging",
                                  daemon=True)
        thread.start()
        return thread, errbox

    def _stage_cdc_sidecars(self, cdc: DataFrame, defn: TableDefinition,
                            version) -> None:
        """The distributed half of the partitioned-table CDC sidecar
        write: one ``partitionBy`` job over the changed rows into a
        ``_cdc_staging-<label>`` dir. Depends only on the cdc frame and
        the pre-generated version label — NOT on the main data write —
        so ``_insert`` submits it from a second driver thread concurrent
        with the data write (guide §2.6 overlap of independent jobs);
        the caller owns staging-dir cleanup via ``_cdc_staging_path``."""
        from pyspark.sql import functions as F

        pcols = list(defn.partition_schema.columns)
        (self._cdc_physical_frame(cdc, defn)
         .repartition(*[F.col(c) for c in pcols])
         .write.partitionBy(*pcols).mode("overwrite")
         .parquet(self._cdc_staging_path(defn, version)))

    def _publish_cdc_staging(self, defn: TableDefinition, version, ops,
                             previous) -> None:
        """Links + markers half of the partitioned CDC sidecar write:
        move each staged per-partition dir into its committed version
        dir. Needs the main write's ``ops`` (which partitions got a new
        version), so it runs AFTER both the data write and the staging
        job. Pure storage metadata work."""
        staging = self._cdc_staging_path(defn, version)
        prev_pv = getattr(previous, "partition_versions", {})

        def publish(op):
            render = op.partition.render()
            staged = os.path.join(staging, render)
            dst = os.path.join(defn.location, render, version.label,
                               _CDC_DIR)
            if self.storage.is_dir(staged):
                self.storage.publish_dir(staged, dst)
            # marker is written even when the rewrite changed ZERO
            # rows in this partition (staged dir absent): a matching
            # marker over an empty sidecar means "exactly no changes"
            # — without it the readers would fall back to a spurious
            # coarse delete-all+insert-all for the rewritten pair
            old = prev_pv.get(op.partition)
            self.storage.write_atomic(
                os.path.join(dst, _CDC_BEFORE),
                old.label if old is not None else "")

        _parallel_publish(publish, [
            op for op in ops if isinstance(op, AddPartitionVersion)])

    def _cdc_before(self, cdc_dir: str) -> str | None:
        """See :func:`core.paths.cdc_before_label` (shared with the
        streaming change feed)."""
        return _cdc_before_label(cdc_dir, self.storage)

    def _carry_old_dvs(self, pairs: "list[tuple[str, str]]") -> None:
        """Carry EXISTING deletion-vector files into freshly staged vector
        dirs as file-level links/copies — zero Spark jobs and zero data
        decode (vector files are immutable parquet; the new and old
        position sets are disjoint by construction, the new positions
        having been anti-joined against the old vectors at scan time).
        Replaces the attribute-and-union Spark job, which decoded and
        re-encoded every old vector row just to move it unchanged.
        ``pairs`` = [(old_dv_dir, staged_dst_dir)]; carried files get a
        ``prev-`` prefix so staged ``part-*`` names can never collide."""
        def carry(pair):
            dv_dir, dst = pair
            for f in sorted(self.storage.list_dir(dv_dir)):
                if f.startswith((".", "_")) or not f.endswith(".parquet"):
                    continue
                self.storage.link_or_copy(os.path.join(dv_dir, f),
                                          os.path.join(dst, f"prev-{f}"))
        _parallel_publish(carry, pairs)

    def _dv_dirs(self, dirs: list[str]) -> list[str]:
        """Version dirs among ``dirs`` carrying a deletion vector. One
        storage-existence probe per selected dir — the same order of driver
        metadata work as Spark's own file listing; a table that never used
        dv-mode deletes pays only the probes."""
        return [d for d in dirs
                if self.storage.exists(os.path.join(d, _DV_DIR))]

    def _dv_frame(self, dv_dirs: list[str]) -> DataFrame:
        """(__dv_dir, __dv_file, __dv_idx) rows of the given dirs' vectors.
        The owning version dir is derived from each DV file's own
        ``_metadata.file_path`` (strip ``/_dv/<file>``) — no naming
        assumptions about data files, which are NOT unique across
        partition dirs (one partitionBy job reuses part-NNNNN-<uuid>
        names in every partition it writes)."""
        from pyspark.sql import functions as F

        # vectors have a FIXED schema (written by the delete/update
        # paths as exactly these two columns); declaring it skips the
        # footer-inference job a bare read.parquet schedules — one
        # fewer driver round trip on every DV-table read
        dv = (self.spark.read.schema("file string, idx bigint")
              .parquet(*[os.path.join(d, _DV_DIR) for d in dv_dirs]))
        return (dv.select(
            F.regexp_replace(F.col("_metadata.file_path"),
                             f"/{_DV_DIR}/[^/]+$", "").alias("__dv_dir"),
            F.col("file").alias("__dv_file"),
            F.col("idx").alias("__dv_idx")).distinct())

    @staticmethod
    def _with_dv_keys(df: DataFrame) -> DataFrame:
        """Attach (__dv_dir, __dv_file, __dv_idx) join keys to a file-source
        scan from its ``_metadata`` column."""
        from pyspark.sql import functions as F

        fp = F.col("_metadata.file_path")
        return (df
                .withColumn("__dv_dir",
                            F.regexp_replace(fp, "/[^/]+$", ""))
                .withColumn("__dv_file",
                            F.element_at(F.split(fp, "/"), -1))
                .withColumn("__dv_idx", F.col("_metadata.row_index")))

    def _apply_dvs(self, df: DataFrame, dv_dirs: list[str]) -> DataFrame:
        """Filter out rows recorded in the selected dirs' deletion vectors
        (Delta DV shape — zero-rewrite row deletes). Positions are
        ``(version dir, file, row_index)`` — the dir qualifier comes from
        file metadata on both sides, so identically-named files in
        different partition dirs can never cross-match. The DV side
        scales with deleted rows, not table size; AQE broadcasts it when
        small."""
        if not dv_dirs:
            return df
        return (self._with_dv_keys(df)
                .join(self._dv_frame(dv_dirs),
                      ["__dv_dir", "__dv_file", "__dv_idx"], "left_anti")
                .drop("__dv_dir", "__dv_file", "__dv_idx"))

    def sync_cloud_catalog(self, table: TableName | str, client) -> int:
        """Point a Glue-style cloud catalog at the current versioned
        locations (reference ``GlueMetastore.scala:67-160``). ``client`` is
        a ``catalog_cloud.CloudCatalogClient`` — ``GlueCatalogClient()`` for
        AWS Glue, or any object implementing the protocol. Idempotent;
        re-run after commits/checkouts to converge."""
        from .catalog_cloud import sync_cloud_catalog as _sync

        defn, log = self._log(table)
        return _sync(client, defn, log)

    def register_view(self, table: TableName | str,
                      view_name: str | None = None,
                      at_commit: str | None = None) -> str:
        """Expose the table's current (or time-travel) state to ``spark.sql``
        as a temp view — the SQL face of ``read``. Returns the view name
        (default: ``schema_table``). The view captures the state at
        registration time; re-register after new commits to advance it."""
        if isinstance(table, str):
            table = TableName.parse(table)
        name = view_name or f"{table.schema}_{table.name}"
        self.read(table, at_commit=at_commit).createOrReplaceTempView(name)
        return name

    def updates(self, table: TableName | str) -> list:
        """Driver-side commit history, most recent first — the reference's
        own ``updates`` shape (``TableVersions.scala:44-45`` returns a
        List, not a dataset). The log lives in the driver, so callers that
        only need a commit id or timestamp (CDF anchors, restore targets,
        timestamp time-travel) read this list directly with ZERO Spark
        jobs; ``history()`` wraps the same list in a DataFrame for
        SQL-facing consumers (guide §5 driver discipline: no Spark job to
        round-trip metadata the driver already holds)."""
        defn, log = self._log(table)
        return log.updates(defn.name)

    def history(self, table: TableName | str) -> DataFrame:
        """Commit history, most recent first, as a DataFrame
        (reference ``updates``, ``TableVersions.scala:44-45``), with the
        commit ``seq`` ordinal (Delta DESCRIBE HISTORY's ``version``):
        the log is append-only with contiguous seqs, so position in the
        full update list IS the seq — a deterministic ordering handle,
        unlike the run-random commit_id/timestamp."""
        metas = self.updates(table)
        n = len(metas)
        return self.spark.createDataFrame(
            [(n - 1 - i, m.commit_id, m.user_id, m.message, m.timestamp)
             for i, m in enumerate(metas)],
            "seq bigint, commit_id string, user_id string, message string, "
            "timestamp string")

    def current_version(self, table: TableName | str) -> TableVersion:
        defn, log = self._log(table)
        return log.current_version(defn.name)

    def table_stats(self, table: TableName | str,
                    at_commit: str | None = None) -> dict:
        """ANALYZE-style table statistics for the current (or time-traveled)
        state, folded PURELY from the per-version stats payloads riding the
        commit log — zero data I/O, zero Spark jobs. Returns
        ``{"rows": n, "columns": {col: {"min", "max"}}, "missing": [dirs]}``;
        dirs committed without stats land in ``missing`` (their rows/ranges
        are not reflected — callers needing exactness must check it's
        empty). The q_table_stats driver query asserts these log-derived
        numbers equal a full scan's, which is precisely the invariant the
        data-skipping read relies on."""
        defn, log = self._log(table)
        state = log.current_version(defn.name, at_commit=at_commit)
        smap = log.stats_map(defn.name, at_commit=at_commit)
        if isinstance(state, SnapshotTableVersion):
            rels = ([] if state.version == UNVERSIONED
                    else [state.version.label])
        else:
            rels = [f"{p.render()}/{v.label}"
                    for p, v in sorted(state.partition_versions.items())]
        rows, mins, maxs, missing = 0, {}, {}, []
        for rel in rels:
            payload = smap.get(rel)
            if payload is None:
                missing.append(rel)
                continue
            rows += payload["rows"]
            for c, mm in payload["columns"].items():
                mins[c] = mm["min"] if c not in mins else min(mins[c], mm["min"])
                maxs[c] = mm["max"] if c not in maxs else max(maxs[c], mm["max"])
        return {"rows": rows,
                "columns": {c: {"min": mins[c], "max": maxs[c]}
                            for c in mins if c in maxs},
                "missing": missing}

    # ------------------------------------------------------- maintenance

    def vacuum(self, table: TableName | str, keep_commits: int = 3,
               keep_hours: float | None = None,
               grace_hours: float = 1.0) -> list[str]:
        """Delete version directories unreachable from the current pointer
        state or from the states of the last ``keep_commits`` commits.

        Closes an acknowledged gap in the reference, where old version dirs
        accumulate forever (SURVEY §2.E; visible in reference
        ``DatePartitionedTableLoaderSpec.scala:118-123``). Time travel to
        commits older than the retention horizon may no longer find data —
        same contract as Delta/Iceberg ``VACUUM``/``expire_snapshots``.
        Returns the removed directory paths.

        ``keep_hours`` (Delta's hour-based retention) ADDITIONALLY keeps
        every commit younger than the given age — the two horizons union,
        so a burst of recent commits can't age data out of its time-travel
        window and a quiet table still retains its last ``keep_commits``.

        ``grace_hours``: version directories with any ACTIVITY younger
        than this are never deleted even when unreferenced — an in-flight
        write publishes its files into final (still-uncommitted, hence
        unreferenced) version dirs before its commit record lands, and a
        vacuum racing that window would delete the data out from under
        the commit. Age is the LATER of the version label's mint time
        (embedded in the label, no I/O) and the newest file's mtime in
        the dir — the mtime check is what protects a write whose data
        phase itself runs longer than ``grace_hours`` (label minted at
        T0, files still landing at T0+2h: label age alone would make the
        dir vacuum-eligible mid-write). Backends that cannot report
        mtimes fall back to the label-only guard. Pass ``grace_hours=0``
        only when no write can be in flight (Delta's retention-duration
        check plays the same role).
        """
        import datetime as _dt
        import time as _time

        defn, log = self._log(table)
        state = log.table_state(defn.name)
        keep_ids = {state.current_version}
        keep_ids.update(u.metadata.commit_id
                        for u in state.updates[-keep_commits:] if keep_commits)
        if keep_hours is not None:
            horizon = (_dt.datetime.now(_dt.timezone.utc)
                       - _dt.timedelta(hours=keep_hours))

            def _ts(value: str) -> _dt.datetime:
                t = _dt.datetime.fromisoformat(value)
                return t if t.tzinfo else t.replace(tzinfo=_dt.timezone.utc)

            keep_ids.update(
                u.metadata.commit_id for u in state.updates
                if _ts(u.metadata.timestamp) >= horizon)
        referenced: set[str] = set()
        for cid in keep_ids:
            tv = log.current_version(defn.name, at_commit=cid)
            if isinstance(tv, SnapshotTableVersion):
                if tv.version != UNVERSIONED:
                    referenced.add(path_for(defn.location, tv.version))
            else:
                for p, v in tv.partition_versions.items():
                    referenced.add(os.path.join(defn.location, p.render(), v.label))
        grace_cutoff = _time.time() - grace_hours * 3600

        def _recent_activity(vdir: str) -> bool:
            if Version.parse(os.path.basename(vdir)).epoch_seconds \
                    >= grace_cutoff:
                return True  # label minted inside the grace window
            if grace_hours <= 0:
                return False  # caller asserted no write is in flight
            for name in self.storage.list_dir(vdir):
                m = self.storage.file_mtime(os.path.join(vdir, name))
                if m is not None and m >= grace_cutoff:
                    return True  # files still landing: write in flight
            return False

        removed = []
        for vdir in self._all_version_dirs(defn):
            if vdir in referenced:
                continue
            if _recent_activity(vdir):
                continue
            self.storage.remove_tree(vdir)
            removed.append(vdir)
        return removed

    def compact(self, table: TableName | str, user_id: str = "maintenance",
                target_partitions: int | None = None,
                cluster_by: list[str] | None = None,
                cluster_mode: str = "range") -> CommitResult:
        """Small-file compaction: rewrite the current state into a fresh
        version with one file per partition (or ``target_partitions`` files
        for snapshot tables). Readers are unaffected until the commit lands
        (immutable versions = zero read/write interference).

        ``cluster_by`` additionally sorts the rewrite on the given columns
        (Delta ``OPTIMIZE ... ZORDER BY``'s role): each rewritten file
        covers a tight value range, so subsequent
        ``read(stats_filter={col: ...})`` calls skip whole files via the
        per-file footer stats recorded in the compaction commit. With
        ``cluster_mode="zorder"`` the rewrite sorts on the Morton curve
        over ≥2 columns — the full ``OPTIMIZE ZORDER BY`` shape: skipping
        then works on any clustered column."""
        defn, log = self._log(table)
        base_fold = log.head_fold(defn.name)
        df = self.read(table)
        if defn.is_snapshot and target_partitions and not cluster_by:
            # a clustered write range-partitions into target_partitions
            # files itself (_write_snapshot); a coalesce there is undone
            df = df.coalesce(target_partitions)
        # partitioned case: insert's distribute=True already clusters by
        # partition columns — one shuffle total. Current partitions the
        # rewrite does NOT re-add are dropped in the same commit: a
        # partition whose rows are all dv-deleted has zero live rows, and
        # materializing its vector away means removing it (rewrite-delete
        # semantics) — otherwise the old vector-carrying dir would stay
        # current forever.
        state = log.current_version(defn.name)
        drop = (list(getattr(state, "partition_versions", {}))
                if not defn.is_snapshot else ())
        return self._insert(df, table, user_id, "compaction",
                            drop_partitions=drop,
                            cluster_by=cluster_by, cluster_mode=cluster_mode,
                            conflict_fold=base_fold,
                            range_partitions=target_partitions)

    def _all_version_dirs(self, defn: TableDefinition) -> list[str]:
        """Every version-label directory on disk for this table."""
        out = []
        if defn.is_snapshot:
            for entry in self.storage.list_dir(defn.location):
                if Version.is_version_label(entry):
                    out.append(os.path.join(defn.location, entry))
            return out
        depth = len(defn.partition_schema.columns)
        storage = self.storage

        def walk(cur: str, level: int) -> None:
            for entry in storage.list_dir(cur):
                path = os.path.join(cur, entry)
                if level < depth:
                    if _PARTITION_DIR_MARKER in entry and storage.is_dir(path):
                        walk(path, level + 1)
                elif Version.is_version_label(entry) and storage.is_dir(path):
                    out.append(path)

        walk(defn.location, 0)
        return out

    def _validate_staged_checks(self, defn: TableDefinition, ops,
                                version: Version) -> None:
        """CHECK-validate the freshly STAGED (immutable, still uncommitted)
        files rather than probing the input frame: a pre-write probe
        re-evaluates the df's lineage, so a non-deterministic input
        (rand(), at-least-once source) could pass the probe yet write
        violating rows — the same re-evaluation hazard _update_dv
        materializes away. Checking what was actually written is exact by
        construction, and a violation still rejects the COMMIT: the staged
        dirs are removed and nothing becomes visible.

        MUST run before any append-mode ``_link_data_files`` carry:
        linked prior-version files keep their filenames, so once linked
        they are indistinguishable from the new delta and every append to
        a CHECK-constrained table would re-scan the ENTIRE prior table
        (and re-validate dv-masked rows the vectors hide) — O(table) per
        append instead of O(new data). CHECK semantics here are
        batch-scoped, like Delta's ADD CONSTRAINT on writes: validate what
        this write adds; prior versions were validated by their own
        commits."""
        if not defn.check_constraints:
            return
        from functools import reduce

        new_dirs = [path_for(defn.location, op.version)
                    if isinstance(op, AddTableVersion)
                    else os.path.join(defn.location,
                                      op.partition.render(),
                                      version.label)
                    for op in ops
                    if isinstance(op, (AddTableVersion,
                                       AddPartitionVersion))]
        if not new_dirs:
            return
        with self._raw_partition_types():
            staged = (self.spark.read.format(defn.format)
                      .option("basePath", defn.location)
                      .load(new_dirs))
        staged = self._apply_mapping(
            defn, self._declared_types(staged, defn))
        # a row violates iff some constraint evaluates to FALSE —
        # NULL passes (SQL CHECK semantics), and `expr == False`
        # is NULL for NULL expr, which where() drops
        violated = reduce(
            lambda a, b: a | b,
            [F_expr(c) == False  # noqa: E712
             for c in defn.check_constraints])
        bad = staged.where(violated).limit(1).collect()
        if bad:
            for d in new_dirs:
                self.storage.remove_tree(d)
            raise ConstraintViolationError(
                f"CHECK constraint {defn.check_constraints} "
                f"rejected row {bad[0].asDict()}")

    @contextmanager
    def _raw_partition_types(self):
        """Disable Spark's partition-column TYPE INFERENCE for the duration
        of an (eager) ``reader.load(...)`` call, so ``col=val`` path
        segments surface as raw strings and :meth:`_declared_types` casts
        them from the original value. Inference is LOSSY before the cast
        ever runs: a declared string partition holding '01' infers as
        int 1, and casting back yields '1' — a different value, which made
        reads corrupt the value and made delete/update rewrite survivors
        into a NEW 'month=1' partition while 'month=01' stayed current
        (silent row duplication + undeleted rows). The conf is consumed at
        file-index construction inside ``load()``, which is eager, so the
        set/restore window never spans lazy execution.

        Thread-safety: the conf is SESSION-global, so two engine calls
        racing on one SparkSession could interleave their set/restore
        windows (B saves prev='false', A restores 'true', B's load runs
        with inference ON — the exact corruption this guards against).
        A process-wide re-entrant lock serializes the windows; loads here
        are eager and short, so contention is negligible. Sessions built
        by :func:`table_versions_spark.session.get_spark` additionally set
        inference-off as a build-time invariant, making the window a
        mutation-free no-op on the common path."""
        key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        with _PARTITION_INFERENCE_LOCK:
            try:
                prev = self.spark.conf.get(key)
            except Exception:  # noqa: BLE001 — unset ⇒ Spark default "true"
                prev = "true"
            if str(prev).lower() == "false":
                # invariant already holds — no mutation, nothing to restore
                yield
                return
            self.spark.conf.set(key, "false")
            try:
                yield
            finally:
                self.spark.conf.set(key, prev)

    def _declared_types(self, df: DataFrame, defn: TableDefinition) -> DataFrame:
        """Cast partition columns back to their *declared* types. Spark
        surfaces partition values from ``col=val`` path segments; every
        engine ``load()`` runs under :meth:`_raw_partition_types` so they
        arrive as raw strings, and this cast gives declared schema the
        final word (including on a DDL-less table, where they stay
        string — the same value the dir name carries)."""
        if not defn.schema_ddl:
            return df
        declared = {f.name: f.dataType for f in
                    self.spark.createDataFrame([], defn.schema_ddl).schema.fields}
        from pyspark.sql import functions as F
        for pcol in defn.partition_schema.columns:
            want = declared.get(pcol)
            if want is not None and df.schema[pcol].dataType != want:
                df = df.withColumn(pcol, F.col(pcol).cast(want))
        return df

    def _empty(self, defn: TableDefinition) -> DataFrame:
        if not defn.schema_ddl:
            raise UnknownTableError(
                f"Table {defn.name.fully_qualified_name} has no data and no "
                "declared schema")
        return self.spark.createDataFrame([], defn.schema_ddl)


_BLOOM_K = 7            # hash probes per key (~1% FPR at 10 bits/row)
_BLOOM_MAX_BITS = 1 << 17  # 16 KiB bitset cap per file-column: commit
                           # records stay log-metadata-sized, not data-sized


def _bloom_hashes(key: str, m: int, k: int) -> list[int]:
    """k bit positions via double hashing over one blake2b digest —
    deterministic across processes (no PYTHONHASHSEED dependence)."""
    import hashlib

    d = hashlib.blake2b(key.encode("utf-8"), digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_key(v) -> str | None:
    """Canonical probe key, shared by build and read sides. Only int and
    string columns participate (floats/bools/binary: equality probes are
    either ill-defined or useless there)."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, str)):
        return str(v)
    return None


def _bloom_build(values, rows: int) -> dict | None:
    """Bitset over a file's column values: ~10 bits/row, power-of-two m,
    capped. Returns None when the column's type doesn't participate —
    absence means 'cannot skip', never 'skip'."""
    import base64

    m = 1024
    while m < rows * 10 and m < _BLOOM_MAX_BITS:
        m *= 2
    bits = bytearray(m // 8)
    for v in values:
        if v is None:
            continue
        key = _bloom_key(v)
        if key is None:
            return None
        for pos in _bloom_hashes(key, m, _BLOOM_K):
            bits[pos >> 3] |= 1 << (pos & 7)
    return {"m": m, "k": _BLOOM_K,
            "bits": base64.b64encode(bytes(bits)).decode("ascii")}


def _bloom_might_contain(bloom: dict, value) -> bool:
    """False only when the bitset PROVES the value absent."""
    import base64

    key = _bloom_key(value)
    if key is None:
        return True
    try:
        m, k = int(bloom["m"]), int(bloom["k"])
        bits = base64.b64decode(bloom["bits"])
    except (KeyError, TypeError, ValueError):
        return True  # malformed payload ⇒ cannot prove, don't skip
    return all(bits[p >> 3] & (1 << (p & 7))
               for p in _bloom_hashes(key, m, k))


def _bloom_union(blooms: list[dict]) -> dict | None:
    """OR of same-shaped file blooms → a directory-level bloom."""
    import base64

    if not blooms or any(b["m"] != blooms[0]["m"] or b["k"] != blooms[0]["k"]
                         for b in blooms):
        return None
    acc = bytearray(base64.b64decode(blooms[0]["bits"]))
    for b in blooms[1:]:
        for i, byte in enumerate(base64.b64decode(b["bits"])):
            acc[i] |= byte
    return {"m": blooms[0]["m"], "k": blooms[0]["k"],
            "bits": base64.b64encode(bytes(acc)).decode("ascii")}


def _dv_row_count(dv_dir: str, storage: Storage | None = None) -> int:
    """Rows in a _dv sidecar from parquet footers — driver-side metadata
    only, no Spark job (the vectors are written distinct, so footer row
    counts ARE the position count)."""
    import pyarrow.parquet as pq

    storage = storage if storage is not None else DEFAULT_STORAGE
    total = 0
    for name in storage.list_dir(dv_dir):
        if name.startswith((".", "_")) or not name.endswith(".parquet"):
            continue
        with storage.open_input(os.path.join(dv_dir, name)) as f:
            total += pq.ParquetFile(f).metadata.num_rows
    return total


def _carried_dv_stats(prev_payload: dict | None, staged_new: int,
                      bloom_columns: tuple[str, ...] = ()) -> dict | None:
    """Stats payload for a deletion-vector DELETE's new version dir,
    carried from the previous version's recorded payload instead of
    re-reading data footers: the dir's data files are LINKS of the
    previous dir's, so footer-derived column ranges, blooms and
    per-file entries are byte-identical — only the dv-adjusted live-row
    count moves, by exactly the newly staged position count (new
    positions are computed with the existing vectors anti-joined, so
    old and new vector entries are disjoint). Returns None — caller
    falls back to the footer pass — when no payload was recorded for
    the previous dir, or when any declared bloom column is missing from
    the previous payload (the fallback builds them; checking only "has
    ANY bloom" would propagate a per-column gap forever once a bloom
    column is added after the previous commit — ADVICE r11 #1)."""
    import copy

    if not prev_payload or "rows" not in prev_payload:
        return None
    if any(c not in (prev_payload.get("bloom") or {})
           for c in bloom_columns):
        return None
    payload = copy.deepcopy(prev_payload)
    payload["rows"] = max(payload["rows"] - staged_new, 0)
    return payload


def _merged_update_stats(prev_payload: dict | None,
                         new_stats: dict | None, staged_new: int,
                         bloom_columns: tuple[str, ...] = ()) -> dict | None:
    """Stats payload for a deletion-vector UPDATE's new version dir
    (VERDICT r11 #6): the dir is hardlinks of the previous dir's files
    (whose footer-derived entries the previous payload already records)
    plus the NEWLY WRITTEN updated-row files — so footer reads are only
    needed for the new files (``new_stats`` = the staged update dir's
    collected stats), and the rest carries:

    - ``rows`` = previous live rows − newly masked positions + new-file
      rows (the masked and rewritten sets are the same matched rows, so
      this is normally a wash — computed, not assumed);
    - ``columns`` = per-column union of the previous ranges and the new
      files' ranges (masked rows may leave the carried range wider than
      the live data — conservative, same as a dv delete's carry);
    - ``files`` = previous per-file entries plus the new files' entries
      (absent entries are always-kept by ``_stats_prune_files``, so a
      partial map only costs skipping, never rows).

    Declared bloom columns force the footer fallback: a carried
    dir-level bloom would not cover the new files' values (false
    negatives would wrongly PROVE absence), and any recorded dir bloom
    is stripped for the same reason."""
    import copy

    if not prev_payload or "rows" not in prev_payload:
        return None
    if bloom_columns:
        return None
    if not new_stats or "rows" not in new_stats:
        return None
    payload = copy.deepcopy(prev_payload)
    payload.pop("bloom", None)
    payload["rows"] = (max(payload["rows"] - staged_new, 0)
                       + new_stats["rows"])
    cols = payload.get("columns") or {}
    for c, rng in (new_stats.get("columns") or {}).items():
        if c in cols:
            try:
                cols[c] = {"min": min(cols[c]["min"], rng["min"]),
                           "max": max(cols[c]["max"], rng["max"])}
            except TypeError:  # mixed stat types ⇒ cannot combine
                del cols[c]
        else:
            cols[c] = dict(rng)
    payload["columns"] = cols
    new_files = new_stats.get("files")
    if new_files or "files" in payload:
        files = dict(payload.get("files") or {})
        files.update(new_files or {})
        if files:
            payload["files"] = files
    return payload


def _collect_version_stats(version_dir: str,
                           storage: Storage | None = None,
                           bloom_columns: tuple[str, ...] = (),
                           per_file_always: bool = False) -> dict | None:
    """Per-column min/max + row count from the parquet footers of an
    immutable version dir, as a JSON-able payload for the commit record.
    Metadata-only (no data pages are read) — except for declared
    ``bloom_columns``, which additionally pay one pruned column read per
    file to build per-file Bloom bitsets for point-equality skipping.
    Non-parquet formats and unstat-able columns are simply absent —
    absence means 'cannot skip', never 'skip'. Returns None when footers
    are unreadable.

    When the dir holds more than one data file, the payload additionally
    carries per-FILE ranges under ``"files"`` (Delta's per-file stats
    shape) so reads can skip at file granularity — which is what makes a
    ``cluster_by`` write pay off: sorted files cover disjoint ranges."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return None
    storage = storage if storage is not None else DEFAULT_STORAGE
    mins, maxs = {}, {}
    rows = 0
    per_file: dict[str, dict] = {}
    for name in storage.list_dir(version_dir):
        if name.startswith((".", "_")) or not name.endswith(".parquet"):
            continue
        fblooms: dict[str, dict] = {}
        try:
            with storage.open_input(os.path.join(version_dir, name)) as f:
                pf = pq.ParquetFile(f)
                md = pf.metadata
                if bloom_columns:
                    # opted-in columns pay ONE pruned column read per file
                    # at publish time (the Delta bloom-index trade) — the
                    # rest of this function stays footer-metadata-only
                    names = set(md.schema.to_arrow_schema().names)
                    want = [c for c in bloom_columns if c in names]
                    if want:
                        tbl = pf.read(columns=want)
                        for c in want:
                            b = _bloom_build(tbl.column(c).to_pylist(),
                                             md.num_rows)
                            if b is not None:
                                fblooms[c] = b
        except Exception:  # noqa: BLE001 — unreadable footer ⇒ no stats
            return None
        rows += md.num_rows
        fmins, fmaxs = {}, {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                cname = col.path_in_schema
                lo, hi = _stat_value(st.min), _stat_value(st.max)
                if lo is None or hi is None:
                    continue
                fmins[cname] = (lo if cname not in fmins
                                else min(fmins[cname], lo))
                fmaxs[cname] = (hi if cname not in fmaxs
                                else max(fmaxs[cname], hi))
        for c in fmins:
            if c in fmaxs:
                mins[c] = fmins[c] if c not in mins else min(mins[c], fmins[c])
                maxs[c] = fmaxs[c] if c not in maxs else max(maxs[c], fmaxs[c])
        per_file[name] = {
            "rows": md.num_rows,
            "columns": {c: {"min": fmins[c], "max": fmaxs[c]}
                        for c in fmins if c in fmaxs}}
        if fblooms:
            per_file[name]["bloom"] = fblooms
    payload = {"rows": rows,
               "columns": {c: {"min": mins[c], "max": maxs[c]}
                           for c in mins if c in maxs}}
    # dir-level bloom: union over files, and ONLY for columns every file
    # has a bloom for — a partial union would wrongly prove absence of
    # values living in the bloom-less files
    dir_blooms: dict[str, dict] = {}
    for c in bloom_columns:
        per = [entry.get("bloom", {}).get(c) for entry in per_file.values()]
        if per and all(b is not None for b in per):
            u = _bloom_union(per)
            if u is not None:
                dir_blooms[c] = u
    if dir_blooms:
        payload["bloom"] = dir_blooms
    # single-file dirs: dir stats == file stats, so per-file entries are
    # redundant — except when the caller will MERGE this payload into a
    # multi-file dir's (the dv-update stats carry), where each new
    # file's own entry is what makes it skippable
    if per_file and (per_file_always or len(per_file) > 1):
        payload["files"] = per_file
    return payload


def _stat_value(v):
    """JSON-able, order-preserving representation of a footer statistic."""
    import datetime as dt

    if isinstance(v, bool) or v is None:
        return None  # boolean min/max is useless for skipping
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()  # ISO sorts lexicographically
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v
    return None


def _stats_exclude(stats_payload: dict | None, stats_filter: dict) -> bool:
    """True iff the recorded [min,max] ranges (or, for point equality, a
    recorded Bloom filter) PROVE no row can match. Missing stats payload /
    column / bloom ⇒ False (cannot skip)."""
    if not stats_payload:
        return False
    cols = stats_payload.get("columns") or {}
    blooms = stats_payload.get("bloom") or {}
    for col, want in stats_filter.items():
        if not isinstance(want, tuple):
            b = blooms.get(col)
            if b is not None and not _bloom_might_contain(b, want):
                return True
        rng = cols.get(col)
        if rng is None:
            continue
        lo, hi = (want if isinstance(want, tuple) else (want, want))
        qlo, qhi = _stat_value(lo), _stat_value(hi)
        if qlo is None or qhi is None:
            continue
        try:
            if qhi < rng["min"] or qlo > rng["max"]:
                return True
        except TypeError:
            continue  # filter/stat type mismatch ⇒ cannot prove, don't skip
    return False


def _parse_bytes_conf(value, default: int = 10485760) -> int:
    """Spark size confs come as '10485760', '10MB', '10m', or '-1'."""
    try:
        v = str(value).strip().lower()
        for suffix, mult in (("kb", 2**10), ("mb", 2**20), ("gb", 2**30),
                             ("k", 2**10), ("m", 2**20), ("g", 2**30),
                             ("b", 1)):
            if v.endswith(suffix):
                return int(float(v[:-len(suffix)]) * mult)
        return int(v)
    except (ValueError, TypeError):
        return default


def _null_safe_cond(cols: list[str], left_alias: str, right_alias: str):
    """AND-fold of null-safe equality (``<=>``) over ``cols`` between two
    aliased DataFrames — partition scoping must treat NULL as a value."""
    from functools import reduce

    from pyspark.sql import functions as F

    return reduce(lambda a, b: a & b,
                  [F.col(f"{left_alias}.{c}").eqNullSafe(F.col(f"{right_alias}.{c}"))
                   for c in cols])


def _link_data_files(src_dir: str, dst_dir: str,
                     storage: Storage | None = None) -> None:
    """Hardlink (POSIX) or server-side-copy (object store) the data files of
    an immutable version dir into a new version dir. Filenames are kept
    unless they collide (Spark part-file names are task-unique, so collisions
    only occur across separate writes)."""
    storage = storage if storage is not None else DEFAULT_STORAGE
    storage.makedirs(dst_dir)
    for name in storage.list_dir(src_dir):
        if name.startswith((".", "_")):
            continue
        src = os.path.join(src_dir, name)
        if storage.is_dir(src):
            continue
        dst = os.path.join(dst_dir, name)
        if storage.exists(dst):
            dst = os.path.join(dst_dir, f"prev-{_uuid.uuid4().hex[:8]}-{name}")
        storage.link_or_copy(src, dst)


def _parallel_publish(fn, items, max_workers: int = 16):
    """Run independent per-partition publish closures concurrently and
    return their results in the ITEM order (deterministic commits). The
    closures are pure storage metadata work — links, sidecar publishes,
    footer reads — so threads (not processes) absorb the per-call round
    trips; a failure propagates like the serial loop's would."""
    if len(items) <= 1:
        return [fn(i) for i in items]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(
            max_workers=min(max_workers, len(items))) as pool:
        return list(pool.map(fn, items))


def _carry_dv_sidecar(src_dir: str, dst_dir: str,
                      storage: Storage | None = None) -> None:
    """Carry a ``_dv`` deletion-vector sidecar into a new version dir
    whose data files were linked from ``src_dir`` (append-mode insert,
    the tvx sink's append commit, clone_table): the linked files still
    physically contain the masked rows, so dropping the vector would
    resurrect every dv-deleted row. Vector entries key on the carried
    file NAMES, which linking preserves (collision renames only occur
    across separate writes, whose uuid part-names cannot collide)."""
    storage = storage if storage is not None else DEFAULT_STORAGE
    src = os.path.join(src_dir, _DV_DIR)
    if not storage.exists(src):
        return
    dst = os.path.join(dst_dir, _DV_DIR)
    storage.makedirs(dst)
    for name in storage.list_dir(src):
        if name.startswith((".", "_")):
            continue
        storage.link_or_copy(os.path.join(src, name),
                             os.path.join(dst, name))


def _discover_partitions(staging: str, depth: int,
                         storage: Storage | None = None) -> list[str]:
    """List relative ``col=v/...`` paths at the given partition depth from a
    staging write. Metadata-only replacement for the reference's extra
    ``distinct().collect()`` job (``VersionContext.scala:95-115``)."""
    storage = storage if storage is not None else DEFAULT_STORAGE
    out: list[str] = []

    def walk(cur: str, rel_parts: list[str], level: int) -> None:
        if level == depth:
            out.append("/".join(rel_parts))
            return
        for entry in sorted(storage.list_dir(cur)):
            if _PARTITION_DIR_MARKER in entry and storage.is_dir(os.path.join(cur, entry)):
                walk(os.path.join(cur, entry), rel_parts + [entry], level + 1)

    walk(staging, [], 0)
    return out
