"""DeltaTable: a delta-spark-compatible table handle built on the native
log implementation (log.py) — Spark DataFrames do all data movement.

API parity targets (so reference call sites translate 1:1):
- ``DeltaTable.forPath`` / ``toDF`` / ``alias`` / ``detail`` /
  ``history`` — used across reference DeltaHelpers.scala.
- ``delete`` / ``update`` / ``merge`` — used by the dedup/SCD operators
  (DeltaHelpers.scala:262-267, Type2Scd.scala:63-80).
- ``optimize().executeCompaction()/executeZOrderBy`` — used by tests
  (DeltaHelperSpec.scala:980, OperationMetricHelperSpec.scala:159).
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.parse
import warnings
from dataclasses import dataclass, field
from typing import Any

from pyspark import Broadcast
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jodie_spark.errors import DeltaProtocolError, JodieValidationError
from jodie_spark.tables.gateway import (
    Observation,
    apply_in_pandas,
    load,
    observe,
    observed,
    parquet_reader,
    select_expr,
    session_key,
)
from jodie_spark.tables.log import (
    CDF_PROP,
    CHECKPOINT_PROTECTION_PROP,
    CLUSTERING_DOMAIN,
    REMOVE_COLUMNS,
    DeltaLog,
    Snapshot,
    dropped_protocol,
    held_features,
    remove_action,
)
from jodie_spark.tables.merge import (
    _annotate_type_changes,
    _frag,
    _str_lit,
    one_small_candidate,
    quote_ident,
    type_ddl,
)
from jodie_spark.tables.writer import write_data_files, write_metrics

CHANGE_DATA_DIR = "_change_data"
RESERVED_WRITER_OPTIONS = {
    "mergeSchema", "overwriteSchema", "maxRecordsPerFile", "txnAppId", "txnVersion"
}
CONSTRAINT_PREFIX = "delta.constraints."

# delta typeWidening: safe widenings (narrow, wide) — integral chain plus
# float->double; parquet files written at the narrow type stay readable
# because every read path up-casts per file
_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
}


def _can_widen(narrow: T.DataType, wide: T.DataType) -> bool:
    return (narrow.typeName(), wide.typeName()) in _WIDENINGS


def _widen(
    schema: T.StructType, types: dict[str, T.DataType], table_version: int
) -> T.StructType:
    """``schema`` with the named top-level columns widened to ``types``,
    each change recorded in its field's ``delta.typeChanges``."""
    wide = T.StructType(
        [
            T.StructField(f.name, types.get(f.name, f.dataType), f.nullable, f.metadata)
            for f in schema.fields
        ]
    )
    return _annotate_type_changes(schema, wide, table_version)[0]


def _clustering_domain(columns: list[str]) -> dict[str, Any]:
    """The ``delta.clustering`` domainMetadata action naming
    ``columns`` (removed when there are none)."""
    return {
        "domainMetadata": {
            "domain": CLUSTERING_DOMAIN,
            "configuration": json.dumps({"clusteringColumns": [[c] for c in columns]}),
            "removed": not columns,
        }
    }


def check_constraints(configuration: dict[str, str] | None) -> dict[str, str]:
    """name → expression for every ``delta.constraints.*`` property."""
    return {
        k[len(CONSTRAINT_PREFIX):]: v
        for k, v in (configuration or {}).items()
        if k.startswith(CONSTRAINT_PREFIX)
    }


def enforce_check_constraints(df: DataFrame, configuration: dict[str, str] | None) -> DataFrame:
    """Wrap the to-be-written rows so any CHECK-constraint violation
    fails the write job, distributed and in-line (an ``assert_true``
    inside the write scan — no extra pass over the data). SQL CHECK
    semantics: NULL passes, only FALSE violates — same as delta-spark's
    CheckDeltaInvariant."""
    for name, expr in sorted(check_constraints(configuration).items()):
        ok = F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
        df = df.filter(
            F.assert_true(
                ok, F.lit(f"CHECK constraint {name} ({expr}) violated by the written data")
            ).isNull()
        )
    return df


def enforce_nullability(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Delta NOT NULL write semantics: a NULL in a non-nullable column
    fails the write, in-scan (same assert_true shape as CHECK
    constraints — no extra pass)."""
    for f in schema.fields:
        if f.nullable or f.name not in df.columns:
            continue
        df = df.filter(
            F.assert_true(
                F.col(quote_ident(f.name)).isNotNull(),
                F.lit(f"NOT NULL constraint violated for column: {f.name}"),
            ).isNull()
        )
    return df


def _schema_from_string(schema_string: str) -> T.StructType:
    return T.StructType.fromJson(json.loads(schema_string))


# Runtime confs that shape a parquet scan's semantics: mirrored from the
# user's session into the field-id reader session, so a mode=id scan
# behaves like any other scan of that session.
_FID_MIRRORED_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.parquet.datetimeRebaseModeInRead",
    "spark.sql.parquet.int96RebaseModeInRead",
)


class _Lru:
    """A bounded map, least recently used entry out first; one lock, as a
    streaming sink scans from its own thread."""

    def __init__(self, bound: int):
        self.bound = bound
        self.lock = threading.Lock()
        self.items: dict[Any, Any] = {}

    def get_or_make(self, key, make):
        """The entry of ``key``, made by ``make()`` (under the lock) when
        there is none."""
        with self.lock:
            value = self.items.pop(key, None)
            if value is None:
                value = make()
                if len(self.items) >= self.bound:
                    self.items.pop(next(iter(self.items)))
            self.items[key] = value
            return value


# field-id child sessions, one per parent JVM session
_FID_SESSIONS = _Lru(8)


def _field_id_read_session(spark: SparkSession) -> SparkSession:
    """Child session (shared SparkContext, separate SQLConf) with
    ``spark.sql.parquet.fieldId.read.enabled=true``.

    Spark offers no per-read switch for field-id matching, and the conf
    is consulted at physical-planning time of each ACTION — so a
    set/restore around the (lazy) read would silently fall back to
    name matching, and setting it on the shared session leaks a global
    matching-behavior change into every later parquet read whose
    requested schema carries field-id metadata. A scan built through
    this child session keeps the conf scoped to the relation: Spark
    builds parquet readers from the RELATION's session, so the returned
    DataFrame keeps id-matching even when unioned/joined/collected from
    the user's session, whose conf is never touched.

    The child is kept per parent JVM session (:func:`gateway.session_key`).
    Every call re-reads the mirrored confs from ``spark`` and sets on
    the child only those whose value changed since the last call."""

    def make() -> SparkSession:
        child = spark.newSession()
        child.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        child._jodie_mirrored_confs = {}
        return child

    child = _FID_SESSIONS.get_or_make(session_key(spark), make)
    mirrored = child._jodie_mirrored_confs
    for key in _FID_MIRRORED_CONFS:
        try:
            value = spark.conf.get(key)
            if mirrored.get(key) != value:
                child.conf.set(key, value)
                mirrored[key] = value
        except Exception:
            pass  # unset / non-runtime conf: leave the child's default
    return child


# Spark's file path and row index of each scanned row (the DV
# coordinate system), as selectExpr text
_FP_RI = ("_metadata.file_path AS __fp__", "_metadata.row_index AS __ri__")

# Prepared parquet readers, one per (JVM session, table root, schema)
# scanned; past the bound the least recently used one goes.
_SCAN_READERS_MAX = 32
_SCAN_READERS = _Lru(_SCAN_READERS_MAX)


def scan_parquet(
    spark: SparkSession,
    paths: list[str],
    schema: T.StructType | None = None,
    base: str | None = None,
    cols: list[str] | None = None,
) -> DataFrame:
    """The one parquet scan of data files named by the log (never a
    storage listing); ``paths`` are Spark-plane paths.

    The reader (``format``, ``basePath``, schema) is set up once per
    (JVM session, ``base``, ``schema``), so a repeat scan pays only the
    ``load``, a one-path scan one round trip. The key is the JVM
    session (:func:`gateway.session_key`), so the new wrapper foreachBatch
    hands each micro-batch finds the reader the last one prepared. A
    schema carrying parquet field ids routes the scan through the
    field-id child session.

    ``base`` (the table root) gives Hive-style partition-column
    reconstruction; ``schema`` pins partition-value types and fills
    columns missing from older files with NULLs. ``cols`` is the
    projection as SQL text, one ``selectExpr``. Without it the scan is
    projected to ``schema``'s columns in schema order only where
    Spark's own order can differ: a ``key=value`` directory below
    ``base`` is a partition column, which Spark puts after the file
    columns (or adds, when the schema does not name it). No paths is an
    empty scan with the schema's columns."""
    from jodie_spark.tables.column_mapping import schema_requests_field_ids

    if schema is not None and schema_requests_field_ids(schema):
        spark = _field_id_read_session(spark)

    reader = _SCAN_READERS.get_or_make(
        (session_key(spark), base, schema.json() if schema is not None else None),
        lambda: parquet_reader(spark, base, schema),
    )
    df = load(spark, reader, paths)
    if cols is None and base is not None and any(
        "=" in p[len(base):].rpartition("/")[0] for p in paths
    ):
        cols = [quote_ident(f.name) for f in schema.fields]
    return select_expr(df, *cols) if cols else df


def _is_external(table_path: str, add: dict[str, Any]) -> bool:
    """Whether ``add`` names a file outside the table directory (a
    shallow clone's reference to its source table's files)."""
    p = urllib.parse.unquote(add["path"])
    return os.path.isabs(p) and not os.path.abspath(p).startswith(
        os.path.abspath(table_path) + os.sep
    )


def read_files_df(
    spark: SparkSession,
    table_path: str,
    schema: T.StructType,
    adds: list[dict[str, Any]],
    lineage: tuple[str, str] | None = None,
    coords: bool = False,
    old_dvs: Broadcast | None = None,
) -> DataFrame:
    """The one scan of a set of add-files: ``schema``'s columns, each
    file read with what its add carries.

    Plain files (inside the table directory, no deletion vector) with
    no ``lineage`` and no ``coords`` are one :func:`scan_parquet` of
    the explicit file list (from the log, never a storage listing) with
    the table root as ``basePath``: a repeat scan of the same table and
    schema reuses the session's prepared reader, and the schema-order
    projection runs only for ``key=value`` (partition) directories. No
    adds is an empty scan through the same reader (one py4j round trip).

    Any other set is the coordinate scan — each row carries ``__fp__``
    / ``__ri__``, Spark's file path and row index — with layers on top:

    - files outside the table directory (shallow clones) are scanned
      without ``basePath``, and the columns their files lack (the
      partition columns) come from their adds' ``partitionValues``;
    - deletion vectors drop the rows they delete: the files carrying
      one are a scan of their own, masked by :func:`_drop_dv_positions`
      (``old_dvs`` is the adds' :func:`_dv_bitmaps` when the caller
      holds them already);
    - ``lineage=(rid_col, rcv_col)``, the table's materialized
      row-tracking columns, adds ``__lineage_rid__`` /
      ``__lineage_rcv__``: the materialized value, else the add's
      ``baseRowId`` + row index / ``defaultRowCommitVersion``
      (:mod:`jodie_spark.tables.row_lineage`). Row indexes are
      pre-mask physical positions, so surviving rows keep their ids.

    The per-file values reach the rows as a broadcast join on
    ``__fp__``, mapped by :func:`scanned_files` (one observed job).
    ``coords`` keeps ``__fp__``/``__ri__`` in the output."""
    plain: list[dict[str, Any]] = []
    dv: list[dict[str, Any]] = []
    external: list[dict[str, Any]] = []
    for a in adds:
        if _is_external(table_path, a):
            external.append(a)
        else:
            (dv if _dv_cardinality(a) else plain).append(a)
    if not (external or dv or lineage or coords):
        # the facade translates schemed table paths for Spark's Hadoop
        # data plane (identity for local tables)
        base, paths = _spark_paths(table_path, adds)
        return scan_parquet(spark, paths, schema, base)
    if any(_dv_cardinality(a) for a in external):
        raise DeltaProtocolError(
            "deletion vectors on externally-referenced (cloned) files "
            "are not supported; deep-copy the table instead"
        )
    fields = list(schema.fields)
    if lineage is not None:
        fields += [T.StructField(c, T.LongType()) for c in lineage]
    names = [quote_ident(f.name) for f in fields]

    def scan(group: list[dict[str, Any]]) -> DataFrame:
        base, paths = _spark_paths(table_path, group)
        return scan_parquet(
            spark, paths, T.StructType(fields), base, cols=[*names, *_FP_RI]
        )

    # the files with deletion vectors are a scan of their own, so only
    # their rows pass the mask's Python predicate
    parts = [scan(plain)] if plain or not (dv or external) else []
    missing: list[str] = []
    if external:
        # no basePath: the files are not under this table
        ext = scan_parquet(
            spark,
            [urllib.parse.unquote(a["path"]) for a in external],
            cols=["*", *_FP_RI],
        )
        present = set(ext.columns)
        missing = [f.name for f in fields if f.name not in present]
        parts.append(
            select_expr(
                ext,
                *[
                    f"CAST(NULL AS {type_ddl(f.dataType)}) AS {n}"
                    if f.name in missing
                    else n
                    for f, n in zip(fields, names)
                ],
                "__fp__",
                "__ri__",
            )
        )
    dv_scan = [scan(dv)] if dv else []
    files = None
    if lineage is not None or missing:
        files = scanned_files(_union(parts + dv_scan), table_path, adds)
    if dv:
        parts.append(_drop_dv_positions(dv_scan[0], table_path, dv, old_dvs, files))
    df = _union(parts)
    if files is None:
        return df if coords else select_expr(df, *names)
    meta = T.StructType(
        [
            T.StructField("__fp__", T.StringType()),
            T.StructField("__base_rid__", T.LongType()),
            T.StructField("__dflt_rcv__", T.LongType()),
        ]
        + [T.StructField(f"__pv{i}__", T.StringType()) for i in range(len(missing))]
    )
    rows = [
        (
            u,
            a.get("baseRowId"),
            a.get("defaultRowCommitVersion"),
            *[(a.get("partitionValues") or {}).get(m) for m in missing],
        )
        for u, a in files
    ]
    # the scan's own session: a mode=id scan runs in the field-id child
    df = df.join(F.broadcast(df.sparkSession.createDataFrame(rows, meta)), "__fp__", "left")
    out = [
        f"coalesce({n}, CAST(__pv{missing.index(f.name)}__ AS {type_ddl(f.dataType)}))"
        f" AS {n}"
        if f.name in missing
        else n
        for f, n in zip(schema.fields, names)
    ]
    if coords:
        out += ["__fp__", "__ri__"]
    if lineage is not None:
        from jodie_spark.tables.row_lineage import LIN_RCV, LIN_RID

        rid, rcv = names[len(schema.fields):]
        out += [
            f"coalesce({rid}, __base_rid__ + __ri__) AS {LIN_RID}",
            f"coalesce({rcv}, __dflt_rcv__) AS {LIN_RCV}",
        ]
    return select_expr(df, *out)


def _union(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def _spark_paths(
    table_path: str, adds: list[dict[str, Any]]
) -> tuple[str, list[str]]:
    """(table root, add files) on Spark's data plane."""
    from jodie_spark.fs import get_fs

    _fs = get_fs(table_path)
    return _fs.spark_path(table_path), [
        _fs.spark_path(_fs.join(table_path, urllib.parse.unquote(a["path"])))
        for a in adds
    ]


def _dv_cardinality(add: dict[str, Any]) -> int:
    desc = add.get("deletionVector")
    return int(desc.get("cardinality") or 0) if desc else 0


# the rows of :meth:`DeltaTable._write_dvs_for`, one per touched file
_DV_ROWS = T.StructType(
    [
        T.StructField("fp", T.StringType()),
        T.StructField("desc", T.StringType()),
        T.StructField("old_card", T.LongType()),
        T.StructField("new_card", T.LongType()),
    ]
)

# Up to this many deleted rows in all, a scan drops them by a filter
# over the broadcast bitmaps; past it by an anti join with the decoded
# positions, so a million-row bitmap is not decoded in every task.
_DV_BROADCAST_MAX_POSITIONS = 2_000_000


def _dv_bitmaps(
    spark: SparkSession, table_path: str, adds: list[dict[str, Any]]
) -> Broadcast | None:
    """The raw roaring bitmaps of the ``adds``' deletion vectors, read
    once on the driver (through the facade, whatever their descriptor)
    and broadcast once, keyed by ``add_path_key`` for EVERY add (None
    for an add without one); None when no add carries one."""
    if not any(a.get("deletionVector") for a in adds):
        return None
    from jodie_spark.fs import add_path_key
    from jodie_spark.tables.deletion_vectors import read_dv_bytes

    raw = {
        add_path_key(table_path, a["path"]): bytes(
            read_dv_bytes(table_path, a["deletionVector"])
        )
        if a.get("deletionVector")
        else None
        for a in adds
    }
    return spark.sparkContext.broadcast(raw)


def _drop_dv_positions(
    df: DataFrame,
    table_path: str,
    adds: list[dict[str, Any]],
    bc: Broadcast | None = None,
    files: list[tuple[str, dict[str, Any]]] | None = None,
) -> DataFrame:
    """``df`` (the coordinate scan of ``adds``: ``__fp__``/``__ri__``)
    minus the rows the adds' deletion vectors delete. A scanned file
    that maps to no add REFUSES rather than resurrect deleted rows.

    Up to ``_DV_BROADCAST_MAX_POSITIONS`` deleted rows in all it is ONE
    Arrow-batched predicate over the broadcast bitmaps (``bc``, the
    adds' :func:`_dv_bitmaps`, read here when None): no extra Spark
    job, no join; Spark's spelling of each file path is keyed
    executor-side by ``scanned_path_key``. Past the bound the positions
    are decoded executor-side from a tiny (path, bytes) frame, exploded
    and anti-joined, so a million-row bitmap never burdens a task; its
    paths are Spark's, from :func:`scanned_files` (``files`` when the
    caller mapped the scan already)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from jodie_spark.tables.deletion_vectors import (
        parse_roaring_bitmap_array,
        read_dv_bytes,
    )

    if sum(_dv_cardinality(a) for a in adds) > _DV_BROADCAST_MAX_POSITIONS:
        if files is None:
            files = scanned_files(df, table_path, adds)
        rows = [
            (u, bytearray(read_dv_bytes(table_path, a["deletionVector"])))
            for u, a in files
            if a.get("deletionVector")
        ]

        def _decode_fn(dv):
            return dv.apply(lambda b: parse_roaring_bitmap_array(bytes(b)))

        # real annotation objects: `from __future__ import annotations`
        # stringifies inline hints, which pandas_udf cannot infer
        _decode_fn.__annotations__ = {"dv": pd.Series, "return": pd.Series}
        _decode = pandas_udf(_decode_fn, T.ArrayType(T.LongType()))
        positions = df.sparkSession.createDataFrame(
            rows, "__fp__ string, __dv__ binary"
        ).select("__fp__", F.explode(_decode(F.col("__dv__"))).alias("__ri__"))
        return df.join(positions, ["__fp__", "__ri__"], "left_anti")

    from jodie_spark.fs import scanned_path_key

    if bc is None:
        bc = _dv_bitmaps(df.sparkSession, table_path, adds)

    def _keep_fn(fp, ri):
        import numpy as np

        out = np.ones(len(fp), dtype=bool)
        for val in fp.unique():
            key = scanned_path_key(val)
            if key not in bc.value:
                raise DeltaProtocolError(
                    f"cannot map scanned file {val!r} back to an add entry "
                    f"of {table_path}; refusing to resurrect deleted rows"
                )
            raw = bc.value[key]
            if raw is None:
                continue  # no DV on this file: keep every row
            pos = np.asarray(parse_roaring_bitmap_array(raw), dtype=np.int64)
            m = (fp == val).values
            out[m] = ~np.isin(ri[m].values, pos)
        return pd.Series(out)

    _keep_fn.__annotations__ = {
        "fp": pd.Series,
        "ri": pd.Series,
        "return": pd.Series,
    }
    _keep = pandas_udf(_keep_fn, T.BooleanType())
    return df.filter(_keep(F.col("__fp__"), F.col("__ri__")))


# Bounds that pick where plan_candidate_files prunes: on the driver or
# in Spark tasks (the same kernel either way). Logs below this many bytes plan on the driver unconditionally: the
# whole state fits in a couple of MB (≈ thousands of files), where
# Spark-job scheduling overhead (~0.3 s × several jobs per DML op)
# would dominate. A JSON tail above it always plans in Spark.
_DRIVER_PLAN_MAX_LOG_BYTES = 4 * 1024 * 1024
# With a condition, the driver plan extends to logs up to this bound
# (~1-2M files of checkpoint parquet, loaded as Arrow). Beyond it Spark
# plans: the arrow base would hold multiple GB on the driver, and a
# cluster prunes a 10M-file state in parallel.
_DRIVER_COLUMNAR_PLAN_MAX_LOG_BYTES = 256 * 1024 * 1024
# (DeltaLog.write_checkpoint applies both byte bounds to the same replay
# to choose between its driver and Spark writers)
# ... and only when the arrow pre-mask keeps at most this many files:
# an unselective plan materializes full stats-bearing payload dicts per
# survivor, so past this bound the Spark plan (stats-free Rows) is the
# cheaper collect even counting its job
_DRIVER_COLUMNAR_PLAN_MAX_SURVIVORS = 100_000


def _log_bytes(table_path: str) -> int:
    """Bytes a replay of the latest version reads: JSON tail plus the
    newest checkpoint (``DeltaLog.replay_log_bytes``)."""
    return sum(DeltaLog(table_path).replay_log_bytes())


def plan_candidate_files(
    spark: SparkSession,
    table_path: str,
    condition: str | None,
    schema: T.StructType,
    partition_columns: list[str],
) -> list[dict[str, Any]]:
    """DML file planning: the add files that may hold rows matching
    ``condition``, pruned on the driver or in Spark tasks with the same
    kernel (``pruning_arrow.exact_keep_mask``), so both sides keep the
    same files.

    The driver plans small logs (< 4 MiB ≈ a few thousand files), where
    a Spark job costs more than the plan, and, with a SELECTIVE
    condition, checkpoint-backed logs up to
    ``_DRIVER_COLUMNAR_PLAN_MAX_LOG_BYTES`` (~1-2M files): snapshot load
    and pruning run columnar over the checkpoint arrow base, measured
    ~1.5 s at 1M adds vs ~12 s for the Spark plan on the same table, and
    only the survivors become Python dicts. Otherwise the kernel runs as
    an Arrow UDF filter over the Spark-side ``files_df`` metadata
    DataFrame, so driver work is bounded by the *candidate* set — the
    rewrite working set — never the table's file count. Candidates
    carry no stats strings; row counting happens on the cached data
    read or via a Spark aggregate.
    """
    json_bytes, parquet_bytes = DeltaLog(table_path).replay_log_bytes()
    log_bytes = json_bytes + parquet_bytes
    if (
        # the JSON tail replays row by row even when the checkpoint
        # loads as Arrow: a huge un-checkpointed tail plans in Spark
        json_bytes <= _DRIVER_PLAN_MAX_LOG_BYTES
        and log_bytes <= _DRIVER_COLUMNAR_PLAN_MAX_LOG_BYTES
        and (condition or log_bytes <= _DRIVER_PLAN_MAX_LOG_BYTES)
    ):
        snap = DeltaLog(table_path).snapshot()
        # past the small-log bound the plan is selectivity-gated: when
        # the arrow mask keeps too many files (or nothing vectorizes),
        # None comes back WITHOUT materializing dicts and the Spark
        # plan below takes over
        candidates = snap._require_files().pruned_adds(
            condition,
            schema,
            partition_columns,
            max_survivors=(
                None
                if log_bytes <= _DRIVER_PLAN_MAX_LOG_BYTES
                else _DRIVER_COLUMNAR_PLAN_MAX_SURVIVORS
            ),
        )
        if candidates is not None:
            return candidates

    from jodie_spark.tables.distribution import files_df, skipping_keep

    fdf = files_df(spark, table_path)
    if condition:
        fdf = fdf.filter(skipping_keep(condition, schema, partition_columns))
    # deletionVector / row-tracking fields must ride along: dropping a
    # candidate's DV here would resurrect its deleted rows in the CoW
    # rewrite read, and dropping baseRowId breaks row-id preservation
    optional = ("deletionVector", "baseRowId", "defaultRowCommitVersion", "tags")
    rows = fdf.select(
        "path", "partitionValues", "size", "modificationTime", *optional
    ).collect()
    out = []
    for r in rows:
        add = r.asDict(recursive=True)
        add["partitionValues"] = add["partitionValues"] or {}
        out.append({k: v for k, v in add.items() if v is not None or k not in optional})
    return out


def planned_num_records(spark: SparkSession, table_path: str, schema: T.StructType) -> int:
    """Total numRecords of the latest snapshot — driver sum for small
    logs, Spark aggregate over the files_df stats column beyond (no
    unbounded driver-side stats parsing)."""
    if _log_bytes(table_path) <= _DRIVER_PLAN_MAX_LOG_BYTES:
        snap = DeltaLog(table_path).snapshot()
        total = 0
        for a in snap.add_files():
            st = a.get("stats")
            if st:
                try:
                    total += int(json.loads(st).get("numRecords") or 0)
                except (ValueError, TypeError):
                    pass
        return total

    from jodie_spark.tables.distribution import _stats_schema, files_df

    row = (
        files_df(spark, table_path)
        .withColumn("parsed_stats", F.from_json("stats", _stats_schema(schema)))
        .agg(F.sum("parsed_stats.numRecords"))
        .collect()[0]
    )
    return int(row[0] or 0)


@dataclass
class _DmlOp:
    """One DELETE (``fields`` None) or UPDATE through
    :meth:`DeltaTable._dml`: what its write step reads, and what the
    step leaves for the commit."""

    snap: Snapshot
    schema: T.StructType
    condition: str | None
    # UPDATE: lower_assignments' field texts and hidden Column values
    fields: list[str] | None = None
    hidden: dict[str, Column] = field(default_factory=dict)
    t_rewrite: float = 0.0  # when the scan phase (planning, probe) ended
    changed: int = 0  # rows deleted or updated
    removes: list[dict[str, Any]] = field(default_factory=list)  # whole files
    adds: list[dict[str, Any]] = field(default_factory=list)  # data files written
    dv_rows: list[Any] = field(default_factory=list)  # one per vector written
    dv_actions: list[dict[str, Any]] = field(default_factory=list)
    dv_bytes: int = 0
    cdc: list[dict[str, Any]] = field(default_factory=list)
    lineage_actions: list[dict[str, Any]] = field(default_factory=list)

    @property
    def cond(self) -> str:
        return _frag(self.condition) if self.condition else "TRUE"

    def project(self, rows: DataFrame, lineage: tuple[str, str] | None) -> DataFrame:
        """The rows a write step writes: DELETE keeps the rows the
        condition does not match, UPDATE selects the assignment text.
        Row tracking: every written row keeps its id; an updated row's
        commit version is NULL (readers fall back to the add's
        ``defaultRowCommitVersion``, this commit), a copied one keeps
        its own."""
        if self.fields is None:
            return rows.filter(f"NOT coalesce({self.cond}, false)")
        from jodie_spark.tables.row_lineage import LIN_RCV, LIN_RID

        lineage_out = (
            [
                LIN_RID,
                f"CASE WHEN {self.cond} THEN CAST(NULL AS BIGINT)"
                f" ELSE {LIN_RCV} END AS {LIN_RCV}",
            ]
            if lineage is not None
            else []
        )
        return enforce_check_constraints(
            apply_generated_columns(
                select_expr(rows, *self.fields, *lineage_out), self.schema
            ),
            self.snap.configuration,
        )

    def change_rows(self, rows: DataFrame) -> DataFrame:
        """Change rows from ``rows`` (a scan holding the matched rows):
        DELETE's ``delete`` rows, UPDATE's pre and post images."""
        names = [quote_ident(f.name) for f in self.schema.fields]
        hit = rows.filter(self.cond)
        if self.fields is None:
            return select_expr(hit, *names, "'delete' AS _change_type")
        return select_expr(hit, *names, "'update_preimage' AS _change_type").unionByName(
            select_expr(hit, *self.fields, "'update_postimage' AS _change_type")
        )

    def metrics(self, t0: float) -> dict[str, str]:
        """One operationMetrics key set per op, whichever the write mode.
        Copied rows are the written rows minus the updated ones, from the
        written files' stats — candidates planned in Spark carry none."""
        written = sum(int(json.loads(a["stats"]).get("numRecords") or 0) for a in self.adds)
        now = time.time()
        metrics = {
            "numRemovedFiles": len(self.removes),
            "numAddedFiles": len(self.adds),
            "numDeletedRows" if self.fields is None else "numUpdatedRows": self.changed,
            "numCopiedRows": written - (0 if self.fields is None else self.changed),
            "numDeletionVectorsAdded": len(self.dv_rows),
            "numDeletionVectorsUpdated": sum(1 for r in self.dv_rows if int(r["old_card"]) > 0),
            "numAddedChangeFiles": len(self.cdc),
            "numRemovedBytes": sum(int(r.get("size") or 0) for r in self.removes),
            "numAddedBytes": self.dv_bytes + sum(int(a.get("size") or 0) for a in self.adds),
            "executionTimeMs": int((now - t0) * 1000),
            # snapshot, candidate planning and the touched-file probe
            "scanTimeMs": int((self.t_rewrite - t0) * 1000),
            "rewriteTimeMs": int((now - self.t_rewrite) * 1000),
        }
        return {k: str(v) for k, v in metrics.items()}


class DeltaTable:
    def __init__(self, spark: SparkSession, path: str, alias: str | None = None):
        from jodie_spark.fs import get_fs, strip_file_scheme

        self.spark = spark
        self.path = get_fs(path).abspath(strip_file_scheme(path))
        self.deltaLog = DeltaLog(self.path)
        self._alias = alias

    # -- construction ------------------------------------------------------

    @classmethod
    def forPath(cls, spark: SparkSession, path: str) -> "DeltaTable":
        log = DeltaLog(path)
        if not log.exists():
            raise DeltaProtocolError(f"`{path}` is not a Delta table.")
        return cls(spark, path)

    for_path = forPath

    @classmethod
    def forName(cls, spark: SparkSession, name: str) -> "DeltaTable":
        """Resolve a table registered via jodie_spark.catalog (e.g. by
        ``copy_table(target_table_name=...)``) — the metastore-backed
        ``DeltaTable.forName`` equivalent."""
        from jodie_spark.catalog import resolve_table_path

        return cls.forPath(spark, resolve_table_path(name))

    for_name = forName

    @staticmethod
    def isDeltaTable(spark: SparkSession, path: str) -> bool:
        return DeltaLog(path).exists()

    def alias(self, name: str) -> "DeltaTable":
        return DeltaTable(self.spark, self.path, alias=name)

    as_ = alias

    # -- reading -----------------------------------------------------------

    def snapshot(self, version: int | None = None) -> Snapshot:
        return self.deltaLog.snapshot(version)

    def schema(self, snapshot: Snapshot | None = None) -> T.StructType:
        snap = snapshot or self.snapshot()
        return _schema_from_string(snap.schema_string)

    def toDF(
        self,
        version: int | None = None,
        timestamp: Any = None,
        _snapshot: Snapshot | None = None,
    ) -> DataFrame:
        """Read the table; ``version`` / ``timestamp`` time-travel like
        delta-spark's versionAsOf / timestampAsOf.

        ``_snapshot`` (internal) serves the read from an
        already-replayed snapshot — callers that just loaded one (e.g.
        an index probe reading geometry properties then data from the
        same table) skip a redundant full log replay. The caller owns
        staleness: never pass a snapshot across a mutation."""
        if timestamp is not None:
            if version is not None:
                raise JodieValidationError("pass version or timestamp, not both")
            import datetime as _dt

            if isinstance(timestamp, str):
                ts = _dt.datetime.fromisoformat(timestamp)
            elif isinstance(timestamp, _dt.datetime):
                ts = timestamp
            else:
                ts = _dt.datetime.fromtimestamp(float(timestamp), tz=_dt.timezone.utc)
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            version = self.deltaLog.version_at_timestamp(int(ts.timestamp() * 1000))
        if (
            _snapshot is not None
            and version is None
            and os.environ.get("JODIE_STRICT_SNAPSHOT")
        ):
            # staleness guard (debug/strict only — costs one log LIST per
            # read, exactly what the snapshot-reuse path exists to avoid):
            # a caller-owned snapshot must never be served across a
            # mutation of the same table
            latest = self.deltaLog.latest_version()
            if _snapshot.version != latest:
                raise JodieValidationError(
                    f"stale _snapshot: version {_snapshot.version} but the "
                    f"log is at {latest} — never reuse a snapshot across a "
                    "mutation"
                )
        snap = (
            _snapshot
            if _snapshot is not None and version is None
            else self.snapshot(version)
        )
        logical = self.schema(snap)
        from jodie_spark.tables.column_mapping import (
            column_mapping_mode,
            rename_to_logical,
            to_physical_schema,
        )

        mode = column_mapping_mode(snap.metadata)
        if mode in ("name", "id"):
            # scan with physical names (what the parquet files + partition
            # dirs use), then rename back to the logical schema; in id
            # mode the data columns additionally resolve by parquet FIELD
            # ID (covers foreign writers whose parquet column names do
            # not match physicalName, e.g. Iceberg-converted tables)
            physical = to_physical_schema(logical, with_field_ids=(mode == "id"))
            # id mode needs spark.sql.parquet.fieldId.read.enabled at the
            # scan — read_files_df routes field-id schemas through the
            # scoped child session rather than mutating the user's
            # session conf (a global leak that would change matching
            # for unrelated parquet reads)
            # projected stream: the scan needs 3 fields per add, never
            # the stats strings (full-table toDF at 1M files skips the
            # dict-view materialization; each toDF replays a fresh
            # snapshot anyway, so nothing re-usable is lost)
            df = read_files_df(
                self.spark,
                self.path,
                physical,
                list(snap.iter_adds(("path", "partitionValues", "deletionVector"))),
            )
            df = rename_to_logical(df, logical, physical)
        else:
            df = read_files_df(
                self.spark,
                self.path,
                logical,
                list(snap.iter_adds(("path", "partitionValues", "deletionVector"))),
            )
        if self._alias:
            df = df.alias(self._alias)
        return df

    to_df = toDF

    def detail(self) -> DataFrame:
        snap = self.snapshot()
        schema = T.StructType(
            [
                T.StructField("format", T.StringType()),
                T.StructField("id", T.StringType()),
                T.StructField("name", T.StringType()),
                T.StructField("description", T.StringType()),
                T.StructField("location", T.StringType()),
                T.StructField("createdAt", T.TimestampType()),
                T.StructField("partitionColumns", T.ArrayType(T.StringType())),
                T.StructField("numFiles", T.LongType()),
                T.StructField("sizeInBytes", T.LongType()),
                T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
            ]
        )
        created_ms = snap.metadata.get("createdTime")
        import datetime as _dt

        row = (
            "delta",
            snap.metadata.get("id"),
            snap.metadata.get("name"),
            snap.metadata.get("description"),
            self.path,
            _dt.datetime.fromtimestamp(created_ms / 1000.0, tz=_dt.timezone.utc)
            if created_ms
            else None,
            snap.partition_columns,
            snap.num_files(),
            snap.size_in_bytes(),
            snap.configuration,
        )
        return self.spark.createDataFrame([row], schema)

    def history(self, limit: int | None = None) -> DataFrame:
        """Commit history, newest first — the public shape the reference
        consumes via DeltaTable.history()/DeltaHistory
        (OperationMetricHelper.scala:56-63)."""
        rows = []
        for v in sorted(self.deltaLog.list_commit_versions(), reverse=True):
            ci = next(
                (a["commitInfo"] for a in self.deltaLog.read_actions(v) if "commitInfo" in a),
                None,
            )
            if ci is None:
                continue
            import datetime as _dt

            rows.append(
                (
                    v,
                    _dt.datetime.fromtimestamp(
                        (ci.get("inCommitTimestamp") or ci.get("timestamp") or 0)
                        / 1000.0, tz=_dt.timezone.utc
                    ),
                    ci.get("operation"),
                    {k: str(v2) for k, v2 in (ci.get("operationParameters") or {}).items()},
                    {k: str(v2) for k, v2 in (ci.get("operationMetrics") or {}).items()},
                    ci.get("readVersion"),
                )
            )
            if limit is not None and len(rows) >= limit:
                break
        schema = T.StructType(
            [
                T.StructField("version", T.LongType()),
                T.StructField("timestamp", T.TimestampType()),
                T.StructField("operation", T.StringType()),
                T.StructField("operationParameters", T.MapType(T.StringType(), T.StringType())),
                T.StructField("operationMetrics", T.MapType(T.StringType(), T.StringType())),
                T.StructField("readVersion", T.LongType()),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    # -- properties / CDF ----------------------------------------------------

    def is_cdf_enabled(self, snapshot: Snapshot | None = None) -> bool:
        snap = snapshot or self.snapshot()
        return str(snap.configuration.get(CDF_PROP, "false")).lower() == "true"

    def set_properties(self, properties: dict[str, str]) -> None:
        snap = self.snapshot()
        meta = dict(snap.metadata)
        conf = dict(meta.get("configuration") or {})
        conf.update({k: str(v) for k, v in properties.items()})
        meta["configuration"] = conf
        self.deltaLog.commit(
            snap.version,
            [{"metaData": meta}],
            "SET TBLPROPERTIES",
            {"properties": json.dumps(properties)},
        )

    def unset_properties(
        self, keys: list[str], if_exists: bool = False
    ) -> None:
        """ALTER TABLE ... UNSET TBLPROPERTIES: remove configuration
        keys (metadata-only commit). Protocol-backed properties stay
        governed by DROP FEATURE — unsetting e.g. delta.enableChange
        DataFeed here only stops future CDC files, exactly like
        delta-spark."""
        snap = self.snapshot()
        conf = dict(snap.metadata.get("configuration") or {})
        missing = [k for k in keys if k not in conf]
        if missing and not if_exists:
            raise JodieValidationError(
                f"table properties not set: {missing} (use IF EXISTS)"
            )
        for k in keys:
            conf.pop(k, None)
        meta = dict(snap.metadata)
        meta["configuration"] = conf
        self.deltaLog.commit(
            snap.version,
            [{"metaData": meta}],
            "UNSET TBLPROPERTIES",
            {"properties": json.dumps(sorted(keys))},
        )

    def widen_column_type(self, column: str, new_type: Any) -> None:
        """ALTER TABLE ... ALTER COLUMN <c> TYPE <wider>: metadata-only
        type widening along the typeWidening chain (int→long,
        float→double, ...). Existing files keep the narrow physical
        type — every read path up-casts per file — so no data rewrites;
        the commit records delta.typeChanges on the field, which the
        commit's protocol rule answers with the reader+writer
        typeWidening feature. Anything off the safe chain refuses."""
        snap = self.snapshot()
        schema = self.schema(snap)
        names = {f.name.lower(): f.name for f in schema.fields}
        if column.lower() not in names:
            raise JodieValidationError(f"column {column} does not exist")
        actual = names[column.lower()]
        dtype = (
            new_type
            if isinstance(new_type, T.DataType)
            else T._parse_datatype_string(str(new_type))
        )
        old = schema[actual].dataType
        if old == dtype:
            return
        if not _can_widen(old, dtype):
            raise JodieValidationError(
                f"cannot change column {actual} from {old.simpleString()} to "
                f"{dtype.simpleString()}: only safe widenings "
                f"(byte/short/int→long, float→double) are supported"
            )
        meta = dict(snap.metadata)
        meta["schemaString"] = _widen(schema, {actual: dtype}, snap.version + 1).json()
        self.deltaLog.commit(
            snap.version,
            [{"metaData": meta}],
            "CHANGE COLUMN",
            {"column": actual, "toType": dtype.typeName()},
        )

    # feature → (config keys removed/overridden on drop, reader-level?)
    _DROPPABLE_FEATURES: dict[str, dict[str, Any]] = {
        "deletionVectors": {
            "del_props": ["delta.enableDeletionVectors"],
            "reader": True,
        },
        "v2Checkpoint": {
            "set_props": {"delta.checkpointPolicy": "classic"},
            "del_props": ["delta.checkpointPolicy"],
            "reader": True,
        },
        "inCommitTimestamp": {
            "del_props": [
                "delta.enableInCommitTimestamps",
                "delta.inCommitTimestampEnablementVersion",
                "delta.inCommitTimestampEnablementTimestamp",
            ],
            "reader": False,
        },
        "changeDataFeed": {
            "set_props": {"delta.enableChangeDataFeed": "false"},
            "reader": False,
        },
    }

    def drop_feature(self, feature: str) -> None:
        """ALTER TABLE ... DROP FEATURE (delta-spark parity) for the
        features whose on-disk traces this engine can retire:

        - ``deletionVectors`` — runs REORG PURGE first so no live file
          carries a DV, then downgrades the protocol;
        - ``v2Checkpoint`` — flips ``delta.checkpointPolicy`` back to
          classic (the post-drop checkpoint is a classic one);
        - ``inCommitTimestamp`` — removes the ICT clock properties;
        - ``changeDataFeed`` — disables the feed (historic ``_change_data``
          files stay readable for pre-drop versions).

        The downgrade commit removes the feature from the protocol sets
        and adds ``checkpointProtection`` +
        ``delta.requireCheckpointProtectionBeforeVersion`` (delta's
        fast-drop flow): a checkpoint is written AT the downgrade
        version, so fresh readers seed from it and never replay the
        feature-bearing history, while time travel below the boundary
        still works for feature-capable readers. Features whose removal
        requires a full physical rewrite (columnMapping, typeWidening,
        rowTracking, …) refuse with the reason."""
        spec = self._DROPPABLE_FEATURES.get(feature)
        if spec is None:
            raise DeltaProtocolError(
                f"DROP FEATURE {feature!r} is not supported by this engine "
                f"(droppable: {sorted(self._DROPPABLE_FEATURES)}); features "
                "requiring a full physical rewrite must be retired by "
                "rewriting the table"
            )
        snap = self.deltaLog.table_info()
        self.deltaLog.check_write_allowed(snap, removes_data=False)
        held_w, held_r = held_features(snap.protocol)
        if feature not in held_w and feature not in held_r:
            raise DeltaProtocolError(
                f"feature {feature!r} is not present in the table protocol"
            )
        if feature == "deletionVectors":
            self.reorg_purge()  # own commits; re-read state below
            snap = self.deltaLog.table_info()

        meta = dict(snap.metadata)
        conf = dict(meta.get("configuration") or {})
        for k in spec.get("del_props", []):
            conf.pop(k, None)
        conf.update(spec.get("set_props", {}))
        conf[CHECKPOINT_PROTECTION_PROP] = str(snap.version + 1)
        meta["configuration"] = conf
        committed = self.deltaLog.commit(
            snap.version,
            [
                {"metaData": meta},
                {"protocol": dropped_protocol(snap.protocol or {}, feature)},
            ],
            "DROP FEATURE",
            {"featureName": feature},
        )
        # seed fresh readers from a post-drop checkpoint so they never
        # replay the feature-bearing history
        try:
            self.deltaLog.write_checkpoint(committed)
        except Exception as e:
            # best effort: the drop stands; the next interval checkpoint heals
            warnings.warn(
                f"{self.path}@{committed}: post-drop checkpoint failed — "
                f"{type(e).__name__}: {e} (the drop stands; fresh readers "
                f"replay the feature-bearing history until the next checkpoint)",
                RuntimeWarning,
                stacklevel=2,
            )

    # -- CHECK constraints ---------------------------------------------------

    def add_check_constraint(self, name: str, expression: str) -> None:
        """ALTER TABLE ... ADD CONSTRAINT name CHECK (expression).

        Validates the expression resolves against the table schema and
        that every EXISTING row satisfies it (one distributed scan —
        the same full validation delta-spark performs), then persists
        it as a ``delta.constraints.<name>`` property, which the
        commit's protocol rule answers with the checkConstraints writer
        feature. Subsequent writes/updates/merges through this engine
        fail loudly on violating rows."""
        snap = self.snapshot()
        key = CONSTRAINT_PREFIX + name
        existing = {k.lower() for k in snap.configuration}
        if key.lower() in existing:
            raise JodieValidationError(f"Constraint '{name}' already exists.")
        try:
            self.toDF().limit(0).filter(expression).collect()
        except Exception as e:
            raise JodieValidationError(
                f"CHECK constraint expression '{expression}' does not resolve "
                f"against the table schema: {e}"
            ) from e
        violating = (
            self.toDF()
            .filter(~F.coalesce(F.expr(expression).cast("boolean"), F.lit(True)))
            .count()
        )
        if violating:
            raise JodieValidationError(
                f"{violating} existing rows violate CHECK constraint "
                f"'{name}' ({expression}); constraint not added."
            )
        meta = dict(snap.metadata)
        conf = dict(meta.get("configuration") or {})
        conf[key] = expression
        meta["configuration"] = conf
        self.deltaLog.commit(
            snap.version,
            [{"metaData": meta}],
            "ADD CONSTRAINT",
            {"name": name, "expr": expression},
        )

    def drop_check_constraint(self, name: str) -> None:
        """ALTER TABLE ... DROP CONSTRAINT name (case-insensitive)."""
        snap = self.snapshot()
        meta = dict(snap.metadata)
        conf = dict(meta.get("configuration") or {})
        key = next(
            (k for k in conf if k.lower() == (CONSTRAINT_PREFIX + name).lower()),
            None,
        )
        if key is None:
            raise JodieValidationError(f"Constraint '{name}' does not exist.")
        expr = conf.pop(key)
        meta["configuration"] = conf
        self.deltaLog.commit(
            snap.version,
            [{"metaData": meta}],
            "DROP CONSTRAINT",
            {"name": name, "expr": expr},
        )

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints: name → expression."""
        return check_constraints(self.snapshot().configuration)

    # -- schema evolution DDL (column mapping) -------------------------------

    def column_mapping_mode(self) -> str:
        from jodie_spark.tables.column_mapping import column_mapping_mode

        return column_mapping_mode(self.snapshot().metadata)

    def enable_column_mapping(self) -> None:
        """Upgrade the table to ``delta.columnMapping.mode = name``:
        every field (incl. nested struct fields) gets a column id and a
        physical name equal to its current logical name, so existing
        data files keep resolving; the commit's protocol rule adds the
        ``columnMapping`` feature. No-op when already
        enabled. This is the delta-spark upgrade path (PROTOCOL.md
        "Column Mapping"); RENAME/DROP COLUMN require it."""
        from jodie_spark.tables.column_mapping import (
            MAX_ID_PROP,
            MODE_KEY,
            assign_column_mapping,
            column_mapping_mode,
            max_column_id,
        )

        snap = self.snapshot()
        mode = column_mapping_mode(snap.metadata)
        if mode == "name":
            return
        if mode != "none":
            raise DeltaProtocolError(
                f"cannot enable column mapping on a table in mode {mode!r}"
            )
        new_schema, max_id = assign_column_mapping(
            self.schema(snap), start_id=max_column_id(snap.metadata), fresh_physical=False
        )
        meta = dict(snap.metadata)
        conf = dict(meta.get("configuration") or {})
        conf[MODE_KEY] = "name"
        conf[MAX_ID_PROP] = str(max_id)
        meta["configuration"] = conf
        meta["schemaString"] = new_schema.json()
        self.deltaLog.commit(
            snap.version,
            [{"metaData": meta}],
            "SET TBLPROPERTIES",
            {"properties": json.dumps({MODE_KEY: "name"})},
        )

    def _refuse_schema_references(
        self, snap: Snapshot, column: str, verb: str
    ) -> None:
        """Refuse a rename/drop of a column referenced by CHECK
        constraints or generation expressions (delta-spark refuses
        both; a silent rename would break enforcement)."""
        import re as _re

        pat = _re.compile(rf"(?<![A-Za-z0-9_`]){_re.escape(column)}(?![A-Za-z0-9_])", _re.I)
        for cname, expr in check_constraints(snap.configuration).items():
            if pat.search(expr):
                raise JodieValidationError(
                    f"cannot {verb} column {column}: referenced by CHECK "
                    f"constraint '{cname}' ({expr})"
                )
        for gname, expr in generated_columns_of(self.schema(snap)).items():
            if pat.search(expr):
                raise JodieValidationError(
                    f"cannot {verb} column {column}: referenced by the "
                    f"generation expression of '{gname}' ({expr})"
                )

    def add_columns(self, columns: dict[str, Any]) -> None:
        """ALTER TABLE ... ADD COLUMNS: metadata-only commit; existing
        files surface the new columns as NULL. ``columns`` maps name →
        Spark SQL type string (or DataType). On a column-mapped table
        new fields get fresh ``col-<uuid>`` physical names."""
        from jodie_spark.tables.column_mapping import (
            MAX_ID_PROP,
            assign_column_mapping,
            column_mapping_mode,
            max_column_id,
        )

        if not columns:
            raise JodieValidationError("columns must not be empty")
        snap = self.snapshot()
        schema = self.schema(snap)
        existing = {f.name.lower() for f in schema.fields}
        new_fields = []
        for name, dt in columns.items():
            if name.lower() in existing:
                raise JodieValidationError(f"column {name} already exists")
            dtype = dt if isinstance(dt, T.DataType) else T._parse_datatype_string(str(dt))
            new_fields.append(T.StructField(name, dtype, True))
        new_schema = T.StructType(list(schema.fields) + new_fields)
        meta = dict(snap.metadata)
        if column_mapping_mode(snap.metadata) == "name":
            new_schema, max_id = assign_column_mapping(
                new_schema, start_id=max_column_id(snap.metadata), fresh_physical=True
            )
            conf = dict(meta.get("configuration") or {})
            conf[MAX_ID_PROP] = str(max_id)
            meta["configuration"] = conf
        meta["schemaString"] = new_schema.json()
        self.deltaLog.commit(
            snap.version,
            [{"metaData": meta}],
            "ADD COLUMNS",
            {"columns": json.dumps(sorted(columns))},
        )

    def rename_column(self, existing: str, new: str) -> None:
        """ALTER TABLE ... RENAME COLUMN: changes the logical name only
        (the physical parquet name is pinned by column mapping, so no
        data rewrites — a pure metadata commit). Auto-enables column
        mapping mode=name on first use, exactly like delta-spark
        requires. Top-level columns only."""
        snap = self.snapshot()
        from jodie_spark.tables.column_mapping import column_mapping_mode

        if column_mapping_mode(snap.metadata) != "name":
            self.enable_column_mapping()
            snap = self.snapshot()
        schema = self.schema(snap)
        names = {f.name.lower(): f.name for f in schema.fields}
        if existing.lower() not in names:
            raise JodieValidationError(f"column {existing} does not exist")
        if new.lower() in names:
            raise JodieValidationError(f"column {new} already exists")
        self._refuse_schema_references(snap, existing, "rename")
        actual = names[existing.lower()]
        new_schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == actual
                else f
                for f in schema.fields
            ]
        )
        meta = dict(snap.metadata)
        meta["schemaString"] = new_schema.json()
        # partitionColumns holds PHYSICAL names on mapped tables (they
        # equal the pre-upgrade logical names), so a rename never
        # touches it — the same reason the data files survive untouched
        self.deltaLog.commit(
            snap.version,
            [{"metaData": meta}],
            "RENAME COLUMN",
            {"oldColumnPath": actual, "newColumnPath": new},
        )

    def drop_column(self, column: str) -> None:
        """ALTER TABLE ... DROP COLUMN: metadata-only removal (the
        column's bytes stay in the files; readers project them away —
        run ``reorg_purge``-style rewrites to physically shed them).
        Auto-enables column mapping, like delta-spark requires."""
        snap = self.snapshot()
        from jodie_spark.tables.column_mapping import column_mapping_mode

        if column_mapping_mode(snap.metadata) != "name":
            self.enable_column_mapping()
            snap = self.snapshot()
        schema = self.schema(snap)
        names = {f.name.lower(): f.name for f in schema.fields}
        if column.lower() not in names:
            raise JodieValidationError(f"column {column} does not exist")
        actual = names[column.lower()]
        if len(schema.fields) == 1:
            raise JodieValidationError("cannot drop the only column of a table")
        field = schema[actual]
        from jodie_spark.tables.column_mapping import PHYSICAL_NAME_KEY

        phys = (field.metadata or {}).get(PHYSICAL_NAME_KEY, actual)
        if actual in snap.partition_columns or phys in snap.partition_columns:
            raise JodieValidationError(f"cannot drop partition column {actual}")
        self._refuse_schema_references(snap, actual, "drop")
        new_schema = T.StructType([f for f in schema.fields if f.name != actual])
        meta = dict(snap.metadata)
        meta["schemaString"] = new_schema.json()
        self.deltaLog.commit(
            snap.version,
            [{"metaData": meta}],
            "DROP COLUMNS",
            {"columns": json.dumps([actual])},
        )

    def _mapping_schemas(
        self, snap: Snapshot
    ) -> tuple[T.StructType, T.StructType] | None:
        """(logical, physical) schema pair when the table uses column
        mapping (mode=name or mode=id), else None. Every mutation / CDF
        path consults this. In id mode the physical schema additionally
        carries ``parquet.field.id`` metadata, which makes (a) candidate
        scans match parquet columns by footer field id (read_files_df
        routes such schemas through the field-id child session) and
        (b) files this engine writes carry matching footer field ids
        (rename_to_physical puts the metadata on the write projection;
        Spark's parquet writer emits it by default) — so id-mapped
        tables take the same DML/CDF surface as name-mapped ones."""
        from jodie_spark.tables.column_mapping import (
            column_mapping_mode,
            to_physical_schema,
        )

        mode = column_mapping_mode(snap.metadata)
        if mode not in ("name", "id"):
            return None
        logical = self.schema(snap)
        return logical, to_physical_schema(logical, with_field_ids=(mode == "id"))

    def _lineage_setup(
        self, snap: Snapshot, candidates: list[dict[str, Any]]
    ) -> tuple[tuple[str, str] | None, list[dict[str, Any]]]:
        """Row-tracking rewrite support: ((rid_col, rcv_col), extra
        commit actions) when ids must be materialized through this
        rewrite, else (None, []). Skipped on tables with externally-
        referenced files (shallow clones) — those get fresh ids, never
        wrong ones."""
        from jodie_spark.tables.row_lineage import ensure_lineage_metadata

        if any(_is_external(self.path, a) for a in candidates):
            return None, []
        cols, meta_action = ensure_lineage_metadata(snap)
        if cols is None:
            return None, []
        return cols, ([meta_action] if meta_action else [])

    def _touched_files(
        self,
        snap: Snapshot,
        schema: T.StructType,
        candidates: list[dict[str, Any]],
        cond: str,
    ) -> tuple[list[dict[str, Any]], tuple[str, str] | None, list[dict[str, Any]]]:
        """Pass 1 of a copy-on-write DELETE/UPDATE: the candidate adds
        the rewrite reads, with :meth:`_lineage_setup`'s row-tracking
        columns and actions.

        One small candidate (:func:`~jodie_spark.tables.merge.one_small_candidate`)
        is returned as is: the rewrite's observed match count tells
        whether it is touched, so a point DML runs one Spark job, and
        the caller discards the rewrite of a miss. Any other candidate
        set is probed: one observed scan of the condition columns and
        the file path, no cache (column pruning then reaches the
        parquet scan). The probe never resolves row ids: only the
        rewrite reads them."""
        lineage, lineage_actions = self._lineage_setup(snap, candidates)
        if one_small_candidate(self.spark.conf, candidates):
            return candidates, lineage, lineage_actions
        cand_df = self._read_candidates(snap, schema, candidates).withColumn(
            "__file__", F.input_file_name()
        )
        touched = map_touched_paths(
            self.path,
            candidates,
            observed_file_uris(cand_df.filter(cond), "__file__"),
        )
        return touched, lineage, lineage_actions

    def _discard_files(self, adds: list[dict[str, Any]]) -> None:
        """Delete the data files of ``adds``, written by an operation that
        will not commit them. Never call it once a commit was attempted:
        a put-if-absent that raised may still have landed."""
        from jodie_spark.fs import get_fs

        fs = get_fs(self.path)
        for a in adds:
            fs.remove(fs.join(self.path, *urllib.parse.unquote(a["path"]).split("/")))

    def _read_candidates(
        self,
        snap: Snapshot,
        schema: T.StructType,
        candidates: list[dict[str, Any]],
        lineage: tuple[str, str] | None = None,
        coords: bool = False,
        old_dvs: Broadcast | None = None,
    ) -> DataFrame:
        """Scan candidate adds returning LOGICAL-named rows: on mapped
        tables the parquet files (and partition dirs) carry physical
        names, so the scan uses the physical schema and renames back.
        DML conditions and set-expressions then evaluate unchanged.

        The mapping pair derives from the CALLER-passed ``schema`` (not
        the snapshot's), so a schema-evolution merge can pass its
        evolved schema — whose new fields carry freshly-assigned
        mapping metadata but exist in no data file yet — and read the
        new columns back as typed NULLs, exactly like the unmapped
        path does.

        The scan is :func:`read_files_df`'s, whose layers ``lineage``,
        ``coords`` and ``old_dvs`` pick: with ``lineage`` each row
        carries its preserved ``__lineage_rid__/__lineage_rcv__``; with
        ``coords`` (the merge-on-read coordinate scan) its
        ``__fp__``/``__ri__``, the deletion-vector coordinates. Rows an
        existing deletion vector deleted are dropped either way, so
        they neither match nor come back. ``old_dvs`` is the
        candidates' :func:`_dv_bitmaps` when the caller holds it already
        (the DV write merges the same bitmaps)."""
        from jodie_spark.tables.column_mapping import (
            column_mapping_mode,
            rename_to_logical,
            to_physical_schema,
        )

        mode = column_mapping_mode(snap.metadata)
        physical = (
            to_physical_schema(schema, with_field_ids=(mode == "id"))
            if mode in ("name", "id")
            else schema
        )
        df = read_files_df(
            self.spark, self.path, physical, candidates, lineage, coords, old_dvs
        )
        if physical is schema:
            return df
        from jodie_spark.tables.row_lineage import LIN_RCV, LIN_RID

        keep = ("__fp__", "__ri__") if coords else ()
        if lineage is not None:
            keep += (LIN_RID, LIN_RCV)
        return rename_to_logical(df, schema, physical, keep=keep)

    def _write_rewrite_files(
        self,
        snap: Snapshot,
        df: DataFrame,
        lineage: tuple[str, str] | None = None,
        logical_schema: T.StructType | None = None,
    ) -> list[dict[str, Any]]:
        """Write rewrite output (logical-named, full table schema) as
        data files — physical-named on mapped tables, so every other
        Delta reader resolves them.

        ``logical_schema`` overrides the snapshot's schema for the
        physical-name projection — a schema-evolution merge on a mapped
        table passes its evolved schema (new fields already carrying
        fresh mapping metadata) so the rewrite renames ALL output
        columns, including the ones the committed metaData is about to
        introduce.

        With ``lineage=(rid_col, rcv_col)`` the df carries
        ``__lineage_rid__/__lineage_rcv__`` columns which are renamed to
        the table's materialized row-tracking column names and written
        into the files (excluded from stats — they are physical-only,
        not table columns)."""
        stat_exclude = None
        keep: tuple[str, ...] = ()
        if lineage is not None:
            from jodie_spark.tables.row_lineage import LIN_RCV, LIN_RID

            rid_col, rcv_col = lineage
            df = df.withColumnRenamed(LIN_RID, rid_col).withColumnRenamed(
                LIN_RCV, rcv_col
            )
            stat_exclude = {rid_col, rcv_col}
            keep = (rid_col, rcv_col)
        ms = self._mapping_schemas(snap)
        if ms is None:
            return write_data_files(
                df,
                self.path,
                snap.partition_columns,
                stat_exclude=stat_exclude,
                table_config=snap.configuration,
            )
        from jodie_spark.tables.column_mapping import (
            column_mapping_mode,
            rename_to_physical,
            to_physical_schema,
        )

        if logical_schema is not None:
            mode = column_mapping_mode(snap.metadata)
            logical = logical_schema
            physical = to_physical_schema(
                logical_schema, with_field_ids=(mode == "id")
            )
        else:
            logical, physical = ms
        return write_data_files(
            rename_to_physical(df, logical, physical, keep=keep),
            self.path,
            snap.partition_columns,
            stat_exclude=stat_exclude,
            table_config=snap.configuration,
        )

    def _planning_condition(self, snap: Snapshot, condition: str | None) -> str | None:
        """File-pruning condition that is SAFE against the log's stats /
        partitionValues keys. On mapped tables those keys are physical
        names: when every physical name equals its logical name (the
        upgrade case) pruning is exact; once any column was renamed, a
        logical name in the condition could collide with a DIFFERENT
        column's physical name and prune wrongly — so pruning is
        disabled (None = keep every file: correct, just un-skipped)."""
        if condition is None:
            return None
        ms = self._mapping_schemas(snap)
        if ms is not None:
            logical, physical = ms
            if any(
                lf.name != pf.name for lf, pf in zip(logical.fields, physical.fields)
            ):
                return None
        # generated-partition derivation (delta OptimizeGeneratedColumn):
        # a predicate on the BASE column of a monotonic generation
        # expression (day = CAST(ts AS DATE), …) implies a partition
        # conjunct — append it so stats/partition skipping AND the
        # read-set conflict checker see it. Implied-only, never lossy.
        from jodie_spark.tables.pruning import augment_with_generated_partitions

        return augment_with_generated_partitions(
            condition, self.schema(snap), snap.partition_columns
        )

    # -- mutations -----------------------------------------------------------

    def _write_cdf_files(
        self,
        change_df: DataFrame,
        snap: Snapshot | None = None,
        logical_schema: T.StructType | None = None,
    ) -> list[dict[str, Any]]:
        """Write change rows (with _change_type) under _change_data/ and
        return ``cdc`` actions. On column-mapped tables the data columns
        are stored under their physical names (same layout delta-spark
        writes, and what the CDF readers resolve). ``logical_schema``
        overrides the snapshot schema for the projection — see
        :meth:`_write_rewrite_files` (schema-evolution merge)."""
        ms = self._mapping_schemas(snap) if snap is not None else None
        if ms is not None:
            from jodie_spark.tables.column_mapping import (
                column_mapping_mode,
                rename_to_physical,
                to_physical_schema,
            )

            if logical_schema is not None:
                logical = logical_schema
                physical = to_physical_schema(
                    logical_schema,
                    with_field_ids=(column_mapping_mode(snap.metadata) == "id"),
                )
            else:
                logical, physical = ms
            change_df = rename_to_physical(
                change_df, logical, physical, keep=("_change_type",)
            )
        adds = write_data_files(
            change_df,
            os.path.join(self.path, CHANGE_DATA_DIR),
            None,
            table_config=snap.configuration,
        )
        actions = []
        for a in adds:
            actions.append(
                {
                    "cdc": {
                        "path": f"{CHANGE_DATA_DIR}/{a['path']}",
                        "partitionValues": a.get("partitionValues") or {},
                        "size": a["size"],
                        "dataChange": False,
                    }
                }
            )
        return actions

    def delete(self, condition: str | None = None, deletion_vectors: bool = False) -> None:
        """DELETE the rows matching ``condition`` (every row when None),
        through :meth:`_dml`. Files whose stats prove no match are never
        read. Copy-on-write: the touched files are rewritten without the
        deleted rows; a full-table delete drops whole files, which is
        already O(metadata).

        ``deletion_vectors=True`` with a condition deletes merge-on-read:
        the matched row indexes are written as roaring-bitmap deletion
        vectors and the files are re-added with the descriptor, so a
        delete that touches 1% of the rows in every file writes tiny
        bitmaps instead of the whole table (the Delta deletionVectors
        feature; the table's protocol is upgraded on first use)."""
        self._dml(condition, None, deletion_vectors)

    def update(
        self,
        condition: str | None,
        set: dict[str, Any],  # noqa: A002
        deletion_vectors: bool = False,
    ) -> None:
        """UPDATE the rows matching ``condition`` (every row when None),
        through :meth:`_dml`: ``set`` maps a column to its new value, as
        SQL text or a Column. Copy-on-write: the touched files are
        rewritten with the updated rows, with the same file skipping as
        :meth:`delete`.

        ``deletion_vectors=True`` with a condition updates merge-on-read:
        the matched rows are marked in deletion vectors and ONLY their
        updated copies are written as new files — untouched rows are
        never rewritten. Both modes record change rows on CDF tables."""
        self._dml(condition, set, deletion_vectors)

    def _dml(
        self,
        condition: str | None,
        assignments: dict[str, Any] | None,
        deletion_vectors: bool,
    ) -> None:
        """The one DELETE/UPDATE pipeline (``assignments`` None is a
        DELETE), the Delta paper's flow: plan the candidate files from
        the log, find and write the matching rows, then ONE commit of
        the remove/add pairs, change rows and metrics, whose read set is
        the planning condition.

        Only the write step depends on the mode: merge-on-read
        (:meth:`_dml_merge_on_read`) with ``deletion_vectors`` and a
        condition, else copy-on-write (:meth:`_dml_copy_on_write`). The
        ops differ only in the row projection (:class:`_DmlOp`)."""
        from jodie_spark.tables.merge import lower_assignments
        from jodie_spark.tables.pruning import make_read_checker

        t0 = time.time()
        snap = self.deltaLog.table_info()
        self.deltaLog.check_write_allowed(snap, removes_data=True)
        schema = self.schema(snap)
        d = _DmlOp(snap, schema, condition)
        if assignments is not None:
            from jodie_spark.tables.identity import identity_columns_of
            from jodie_spark.tables.merge import resolve_assignment_keys

            assignments = resolve_assignment_keys(
                assignments, [f.name for f in schema.fields], "UPDATE"
            )
            bad = [k for k in assignments if k in identity_columns_of(schema)]
            if bad:
                raise JodieValidationError(
                    f"UPDATE cannot assign identity column(s) {sorted(bad)}"
                )
            d.hidden, d.fields = lower_assignments(schema, [(d.cond, assignments)])
        plan_cond = self._planning_condition(snap, condition)
        candidates = plan_candidate_files(
            self.spark, self.path, plan_cond, schema, snap.partition_columns
        )
        d.t_rewrite = time.time()
        if deletion_vectors and condition is not None:
            self._dml_merge_on_read(d, candidates)
        else:
            self._dml_copy_on_write(d, candidates)

        actions = list(d.lineage_actions)
        actions += d.cdc + d.dv_actions + [{"add": a} for a in d.adds]
        now_ms = int(time.time() * 1000)
        actions += [remove_action(r, now_ms) for r in d.removes]
        if d.fields is None:
            op, params = "DELETE", {"predicate": json.dumps([condition] if condition else [])}
        else:
            op, params = "UPDATE", {"predicate": condition or ""}
        self.deltaLog.commit(
            snap.version,
            actions,
            op,
            params,
            d.metrics(t0),
            read_check=make_read_checker(plan_cond, schema, snap.partition_columns),
        )

    def _dml_copy_on_write(
        self, d: "_DmlOp", candidates: list[dict[str, Any]]
    ) -> None:
        """Copy-on-write write step: rewrite the touched files (see
        :meth:`_touched_files`: one small candidate runs no probe) as
        :meth:`_DmlOp.project` of their full-column scan. The count of
        matched rows rides the write job's observation and decides
        whether the rewrite commits; with no match its files are
        deleted. A full-table DELETE removes every candidate, reading no
        data."""
        if d.condition is None and d.fields is None:
            d.removes = candidates
            d.changed = planned_num_records(self.spark, self.path, d.schema)
            return
        if not candidates:
            return
        touched, lineage, d.lineage_actions = self._touched_files(
            d.snap, d.schema, candidates, d.cond
        )
        d.t_rewrite = time.time()
        if not touched:
            return
        rows = self._read_candidates(d.snap, d.schema, touched, lineage=lineage)
        if d.hidden:
            rows = rows.withColumns(d.hidden)
        cdf_on = self.is_cdf_enabled(d.snap)
        if cdf_on:
            # the change rows read the scan again; cache it for that
            rows = rows.cache()
        try:
            observed, obs = observe(
                rows, {"changed": f"count_if(coalesce({d.cond}, false))"}
            )
            adds = self._write_rewrite_files(
                d.snap, d.project(observed, lineage), lineage=lineage
            )
            try:
                d.changed = observation_values(obs, "rewrite")["changed"]
                if d.changed:
                    d.removes, d.adds = touched, adds
                    if cdf_on:
                        d.cdc = self._write_cdf_files(d.change_rows(rows), d.snap)
            except BaseException:
                self._discard_files(adds)
                raise
            if not d.changed:  # no row matched: nothing to commit
                self._discard_files(adds)
        finally:
            if cdf_on:
                rows.unpersist()

    def _dml_merge_on_read(
        self, d: "_DmlOp", candidates: list[dict[str, Any]]
    ) -> None:
        """Merge-on-read write step: mark the matched rows of the
        candidates' coordinate scan (:meth:`_read_candidates` with
        ``coords``) in one deletion vector per touched file, merged with
        the file's existing one (:meth:`_write_dvs_for`), and re-add each
        file with it. An UPDATE also writes :meth:`_DmlOp.project` of
        the matched rows as new files. Untouched rows are never
        rewritten."""
        if not candidates:
            return
        lineage = None
        if d.fields is not None:  # the updated copies keep their row ids
            lineage, d.lineage_actions = self._lineage_setup(d.snap, candidates)
        old_dvs = _dv_bitmaps(self.spark, self.path, candidates)
        matched = self._read_candidates(
            d.snap, d.schema, candidates, lineage=lineage, coords=True, old_dvs=old_dvs
        ).filter(d.cond)
        if d.hidden:
            matched = matched.withColumns(d.hidden)
        # read by the bitmap write, then the copies and the change rows
        matched = matched.cache()
        try:
            d.dv_rows = self._write_dvs_for(matched, old_dvs)
            if not d.dv_rows:
                return
            d.dv_actions, d.changed, d.dv_bytes = self._dv_action_pairs(
                candidates, d.dv_rows, int(time.time() * 1000)
            )
            if d.fields is not None:
                d.adds = self._write_rewrite_files(
                    d.snap, d.project(matched, lineage), lineage=lineage
                )
            if self.is_cdf_enabled(d.snap):
                d.cdc = self._write_cdf_files(d.change_rows(matched), d.snap)
        finally:
            matched.unpersist()

    # -- deletion-vector (merge-on-read) machinery ---------------------------

    def _write_dvs_for(self, matched: DataFrame, old_dvs: Broadcast | None) -> list[Any]:
        """One pandas group per touched file serializes and
        writes the (old ∪ new) position bitmap EXECUTOR-side
        (:func:`~jodie_spark.tables.deletion_vectors.write_dv_file`: a
        relative ``u`` descriptor under the table's
        ``deletion_vectors/``, so a copied or moved table keeps its
        vectors). The old bitmaps are the coordinate scan's broadcast
        (:func:`_dv_bitmaps`), so each is read once per op. The driver
        receives one descriptor row per file, never a row index."""
        from jodie_spark.fs import get_fs, scanned_path_key
        from jodie_spark.tables.deletion_vectors import (
            DV_DIR,
            parse_roaring_bitmap_array,
            write_dv_file,
        )

        fs = get_fs(self.path)
        fs.makedirs(fs.join(self.path, DV_DIR))
        # executors write through a path they can open without the
        # driver's file-system registry
        exec_root = fs.executor_path(self.path)

        def _make_dv(pdf):
            import pandas as pd

            fp = pdf["__fp__"].iloc[0]
            positions = set(int(x) for x in pdf["__ri__"])
            old = old_dvs.value.get(scanned_path_key(fp)) if old_dvs is not None else None
            old_pos = parse_roaring_bitmap_array(old) if old else []
            positions |= set(old_pos)
            desc = write_dv_file(exec_root, sorted(positions))
            return pd.DataFrame(
                {
                    "fp": [fp],
                    "desc": [json.dumps(desc)],
                    "old_card": [len(old_pos)],
                    "new_card": [len(positions)],
                }
            )

        return apply_in_pandas(
            select_expr(matched, "__fp__", "__ri__"), "__fp__", _make_dv, _DV_ROWS
        ).collect()  # one row per TOUCHED FILE — bounded by #files

    def _dv_action_pairs(
        self, candidates: list[dict[str, Any]], rows: list[Any], now_ms: int
    ) -> tuple[list[dict[str, Any]], int, int]:
        """remove(old)+add(same path, new DV) pairs for each touched file.
        Returns (actions, changed_row_count, dv_bytes). Adds are emitted
        AFTER removes: snapshot replay applies in order, so the re-added
        path ends live and un-tombstoned (vacuum safe)."""
        add_of = dict(map_scanned_uris(self.path, candidates, [r["fp"] for r in rows]))
        changed = 0
        dv_bytes = 0
        removes: list[dict[str, Any]] = []
        adds: list[dict[str, Any]] = []
        for r in rows:
            add = add_of[r["fp"]]
            desc = json.loads(r["desc"])
            changed += int(r["new_card"]) - int(r["old_card"])
            dv_bytes += int(desc.get("sizeInBytes") or 0)
            new_add = dict(add)
            new_add["deletionVector"] = desc
            new_add["dataChange"] = True
            adds.append(new_add)
            removes.append(remove_action(add, now_ms))
        return removes + [{"add": a} for a in adds], changed, dv_bytes

    def merge(self, source: DataFrame, condition: str) -> "DeltaMergeBuilder":
        from jodie_spark.tables.merge import DeltaMergeBuilder

        return DeltaMergeBuilder(self, source, condition)

    def optimize(self) -> "OptimizeBuilder":
        return OptimizeBuilder(self)

    def cluster_by(self) -> list[str]:
        """The table's liquid-clustering columns (empty when the table
        isn't clustered) — from the ``delta.clustering`` domain."""
        dm = self.deltaLog.latest_domain_metadata(CLUSTERING_DOMAIN)
        if not dm:
            return []
        cfg = json.loads(dm.get("configuration") or "{}")
        return [c[0] if isinstance(c, list) else c for c in cfg.get("clusteringColumns") or []]

    def set_cluster_by(self, columns: list[str]) -> None:
        """ALTER TABLE ... CLUSTER BY: change (or, with ``[]``, drop)
        the clustering columns. One metadata-only commit; data is
        re-clustered lazily by the next OPTIMIZE."""
        snap = self.deltaLog.table_info()
        self.deltaLog.check_write_allowed(snap, removes_data=False)
        schema_cols = [f.name for f in self.schema(snap).fields]
        missing = [c for c in columns if c not in schema_cols]
        if missing:
            raise JodieValidationError(f"cluster_by columns not in table: {missing}")
        if snap.partition_columns and columns:
            raise JodieValidationError(
                "cannot CLUSTER BY a Hive-partitioned table"
            )
        self.deltaLog.commit(
            snap.version,
            [_clustering_domain(columns)],
            "CLUSTER BY",
            {"clusterBy": json.dumps(columns)},
            {},
        )

    def restore(self, version: int | None = None, timestamp: str | None = None) -> None:
        """RESTORE TABLE to an earlier version: commits the add/remove
        delta between the current and target snapshots (no data rewrite
        — files still on disk are re-referenced; equivalent to
        delta-spark's restoreToVersion / restoreToTimestamp)."""
        if timestamp is not None:
            if version is not None:
                raise JodieValidationError("pass version or timestamp, not both")
            import datetime as _dt

            ts = _dt.datetime.fromisoformat(timestamp)
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            version = self.deltaLog.version_at_timestamp(int(ts.timestamp() * 1000))
        if version is None:
            raise JodieValidationError("restore needs a version or timestamp")
        target = self.snapshot(int(version))
        current = self.snapshot()
        self.deltaLog.check_write_allowed(current, removes_data=True)
        now_ms = int(time.time() * 1000)
        current_paths = set(current.files)
        target_paths = set(target.files)
        actions: list[dict[str, Any]] = []
        _fs = self.deltaLog._fs
        # batched per-directory existence (same LIST-page shape as fsck)
        back_abs = {
            p: _fs.join(self.path, urllib.parse.unquote(p))
            for p in target_paths - current_paths
        }
        present = _fs.existing_files(back_abs.values())
        missing = [p for p, ap in back_abs.items() if ap not in present]
        if missing:
            raise DeltaProtocolError(
                f"cannot restore to version {version}: {len(missing)} data "
                f"files have been vacuumed (e.g. {missing[0]})"
            )
        from jodie_spark.tables.deletion_vectors import dv_absolute_path

        dv_abs = []
        for p in target_paths:
            dv = target.files[p].get("deletionVector")
            if dv:
                dv_path = dv_absolute_path(self.path, dv)
                if dv_path:
                    dv_abs.append(dv_path)
        dv_present = _fs.existing_files(dv_abs)
        for dv_path in dv_abs:
            if dv_path not in dv_present:
                raise DeltaProtocolError(
                    f"cannot restore to version {version}: deletion "
                    f"vector {dv_path} has been vacuumed"
                )
        if target.schema_string != current.schema_string or (
            target.partition_columns != current.partition_columns
        ):
            actions.append({"metaData": target.metadata})
        for p in target_paths - current_paths:
            add = dict(target.files[p])
            add["dataChange"] = True
            actions.append({"add": add})
        # paths live in BOTH snapshots can still differ in their add
        # payload — a MoR delete/update re-adds the same path with a new
        # deletion vector. Restoring must re-add the TARGET's entry
        # (remove-then-add, same-version add wins the replay) or deleted
        # rows would stay deleted after the restore.
        for p in target_paths & current_paths:
            if current.files[p].get("deletionVector") != target.files[p].get(
                "deletionVector"
            ):
                actions.append(remove_action(current.files[p], now_ms))
                add = dict(target.files[p])
                add["dataChange"] = True
                actions.append({"add": add})
        actions += [
            remove_action(current.files[p], now_ms) for p in current_paths - target_paths
        ]
        metrics = {
            "numRestoredFiles": str(len(target_paths - current_paths)),
            "numRemovedFiles": str(len(current_paths - target_paths)),
            "restoredFilesSize": str(
                sum(int(target.files[p].get("size") or 0) for p in target_paths - current_paths)
            ),
        }
        self.deltaLog.commit(
            current.version, actions, "RESTORE", {"version": str(version)}, metrics
        )

    def reorg_purge(self) -> int:
        """REORG TABLE ... APPLY (PURGE) (delta-spark parity): rewrite
        ONLY the files that carry deletion vectors, materializing their
        deletions into clean files with no DV. Returns the number of
        files purged. Run before vacuum to make soft-deleted data
        physically unrecoverable, or to stop paying the DV anti-join at
        read time once deletions accumulate.

        The rewrite reads through the DV filter (so exactly the live
        rows survive) and commits dataChange=false — row content is
        unchanged, only its physical layout."""
        snap = self.snapshot()
        self.deltaLog.check_write_allowed(snap, removes_data=False)
        schema = self.schema(snap)
        # columnar DV lookup: validity-mask the base, materialize ONLY
        # the DV'd adds (full payloads — they get rewritten)
        dv_adds = list(snap.iter_adds(require="deletionVector"))
        if not dv_adds:
            return 0
        # a pure layout rewrite never evaluates expressions, so mapped
        # tables (e.g. DV'd by another engine) stay physical end-to-end
        ms = self._mapping_schemas(snap)
        lineage, lineage_actions = self._lineage_setup(snap, dv_adds)
        live = read_files_df(
            self.spark, self.path, ms[1] if ms else schema, dv_adds, lineage
        )
        stat_exclude = None
        if lineage is not None:
            # copied rows keep id AND commit version (pure layout change)
            from jodie_spark.tables.row_lineage import LIN_RCV, LIN_RID

            live = live.withColumnRenamed(LIN_RID, lineage[0]).withColumnRenamed(
                LIN_RCV, lineage[1]
            )
            stat_exclude = set(lineage)
        adds = write_data_files(
            live, self.path, snap.partition_columns, stat_exclude=stat_exclude,
            table_config=snap.configuration,
        )
        for a in adds:
            a["dataChange"] = False
        now_ms = int(time.time() * 1000)
        actions: list[dict[str, Any]] = lineage_actions + [{"add": a} for a in adds]
        actions += [remove_action(a, now_ms, data_change=False) for a in dv_adds]
        self.deltaLog.commit(
            snap.version,
            actions,
            "REORG",
            {"applyPurge": "true"},
            {
                "numRemovedFiles": str(len(dv_adds)),
                "numAddedFiles": str(len(adds)),
                "numDeletionVectorsRemoved": str(len(dv_adds)),
            },
        )
        return len(dv_adds)

    def fsck(self, dry_run: bool = True) -> list[str]:
        """FSCK REPAIR TABLE (delta-spark parity): find add entries whose
        data files are physically missing (deleted out-of-band, lost on a
        source table a shallow clone references, …) and — with
        ``dry_run=False`` — commit removes for them so the table reads
        cleanly again instead of failing mid-scan.

        Returns the relative/absolute paths of the missing files. A DV
        descriptor whose bitmap file is missing also marks its data file
        (reading it would silently resurrect deleted rows).

        Driver-side O(#files) existence checks — the same cost class as
        the log replay itself; at object-store scale run it rarely and
        against a listing cache.
        """
        from jodie_spark.tables.deletion_vectors import dv_absolute_path

        snap = self.snapshot()
        _fs = self.deltaLog._fs
        # projected columnar stream: the existence sweep needs 2 fields
        # of every add, never the stats/tags payloads — at 1M adds this
        # skips the full dict-view materialization entirely. Existence
        # itself is batched per directory (one LIST page serves hundreds
        # of candidates, the object-store price of ~one HEAD) instead of
        # one RPC per add; in-table relative paths take a string-concat
        # fast path (a generic fs.join costs ~3 µs × 1M adds).
        unquote = urllib.parse.unquote
        base_join = self.path.rstrip("/") + "/"
        rels: list[str] = []
        abss: list[str] = []
        dv_of: dict[str, str] = {}
        for add in snap.iter_adds(("path", "deletionVector")):
            rel = add["path"]
            rels.append(rel)
            u = unquote(rel)
            if "://" not in u and not u.startswith(("/", os.sep)):
                abss.append(base_join + u)
            else:
                abss.append(_fs.join(self.path, u))
            if add.get("deletionVector"):
                dvp = dv_absolute_path(self.path, add["deletionVector"])
                if dvp is not None:
                    dv_of[rel] = dvp
        import itertools as _it

        present = _fs.existing_files(_it.chain(abss, dv_of.values()))
        missing_rel: set[str] = set()
        for rel, ap in zip(rels, abss):
            if ap not in present:
                missing_rel.add(rel)
            else:
                dvp = dv_of.get(rel)
                if dvp is not None and dvp not in present:
                    missing_rel.add(rel)
        missing: list[dict[str, Any]] = []
        if missing_rel:  # healthy tables never pay a second pass
            for add in snap.iter_adds(REMOVE_COLUMNS):
                if add["path"] in missing_rel:
                    missing.append(add)
        if not dry_run and missing:
            now_ms = int(time.time() * 1000)
            actions = [remove_action(a, now_ms) for a in missing]
            self.deltaLog.commit(
                snap.version,
                actions,
                "FSCK",
                {"dryRun": "false"},
                {"numRemovedFiles": str(len(missing))},
            )
        return [a["path"] for a in missing]

    def generate(self, mode: str = "symlink_format_manifest") -> list[str]:
        """``GENERATE symlink_format_manifest FOR TABLE ...``: write the
        Hive-symlink manifest layout external engines (Presto / Trino /
        Athena) read Delta tables through — one ``manifest`` text file
        per partition directory under ``_symlink_format_manifest/``,
        each line an absolute URI of a CURRENT data file. Stale
        manifest partition dirs from earlier generations are removed so
        external readers never see dropped partitions. Returns the
        manifest paths written.

        Refused on tables with deletion vectors (a symlink reader would
        resurrect DV-deleted rows) — run ``reorg_purge()`` first, same
        contract as delta-spark's manifest generation."""
        if mode == "iceberg":
            # UniForm-style Iceberg metadata (public Delta feature
            # delta.universalFormat.enabledFormats=iceberg): full
            # conversion of the current snapshot under <table>/metadata/
            from jodie_spark.interop.iceberg import convert_to_iceberg

            return [convert_to_iceberg(self)]
        if mode != "symlink_format_manifest":
            raise JodieValidationError(
                f"unsupported GENERATE mode {mode!r} "
                f"(only symlink_format_manifest and iceberg)"
            )
        snap = self.snapshot()
        from jodie_spark.tables.column_mapping import column_mapping_mode

        if column_mapping_mode(snap.metadata) != "none":
            raise DeltaProtocolError(
                "GENERATE symlink_format_manifest on a column-mapped table "
                "is not supported: symlink readers resolve parquet columns "
                "by PHYSICAL name and would mis-read logical renames "
                "(delta-spark refuses this too)"
            )
        # projected stream (manifest needs path + partitionValues; the
        # DV refusal checks validity columnar via require=)
        if next(iter(snap.iter_adds(("path",), require="deletionVector")), None):
            raise DeltaProtocolError(
                "GENERATE symlink_format_manifest on a table with deletion "
                "vectors would expose deleted rows to symlink readers; run "
                "reorg_purge() first"
            )
        root = os.path.join(self.path, "_symlink_format_manifest")
        abs_root = os.path.abspath(self.path) + os.sep
        part_cols = snap.partition_columns
        by_dir: dict[str, list[str]] = {}
        for a in snap.iter_adds(("path", "partitionValues")):
            rel = urllib.parse.unquote(a["path"])
            # os.path.join treats an absolute rel as the full path —
            # exactly right for shallow-clone adds that point at the
            # source table's files
            abs_path = os.path.abspath(os.path.join(self.path, rel))
            uri = "file://" + abs_path
            if os.path.isabs(rel) or not abs_path.startswith(abs_root):
                # external add (shallow clone): dirname(rel) is an
                # absolute directory in the FOREIGN table — joining it
                # under the manifest root would escape it and write a
                # stray manifest into the source table. Rebuild the
                # Hive-style partition dir from the add's own
                # partitionValues instead (the layout symlink readers
                # expect); percent-escaping may be broader than Spark's
                # but is deterministic and collision-free.
                pv = a.get("partitionValues") or {}
                segs = []
                for c in part_cols:
                    v = pv.get(c)
                    raw = (
                        "__HIVE_DEFAULT_PARTITION__"
                        if v is None
                        else urllib.parse.quote(str(v), safe="")
                    )
                    segs.append(f"{c}={raw}")
                part_dir = "/".join(segs)
            else:
                part_dir = os.path.dirname(rel)  # '' for unpartitioned
            by_dir.setdefault(part_dir, []).append(uri)
        import shutil

        if os.path.isdir(root):
            shutil.rmtree(root)  # drop manifests of vanished partitions
        written = []
        for part_dir, uris in sorted(by_dir.items()):
            d = os.path.join(root, part_dir) if part_dir else root
            if not os.path.abspath(d).startswith(os.path.abspath(root)):
                raise DeltaProtocolError(
                    f"manifest partition dir {part_dir!r} escapes the "
                    f"manifest root — refusing to write outside the table"
                )
            os.makedirs(d, exist_ok=True)
            import uuid as _uuid

            p = os.path.join(d, "manifest")
            tmp = p + f".tmp-{_uuid.uuid4().hex[:8]}"
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write("\n".join(sorted(uris)) + "\n")
            os.replace(tmp, p)
            written.append(p)
        return written

    def vacuum(
        self, retention_hours: float = 168.0, dry_run: bool = False
    ) -> list[str] | None:
        """Physically delete tombstoned data files and change-data files
        older than the retention window.

        ``dry_run=True`` returns the absolute paths that WOULD be
        deleted without touching disk or the log — delta-spark's
        ``VACUUM ... DRY RUN``. A real run writes the same VACUUM
        START / VACUUM END history pair delta-spark records, so audits
        can see when files became unrecoverable (the END commit carries
        numDeletedFiles)."""
        snap = self.snapshot()
        fs = self.deltaLog._fs  # storage facade: local or object store
        cutoff_ms = int((time.time() - retention_hours * 3600) * 1000)
        root = fs.abspath(self.path).rstrip("/").rstrip(os.sep)

        # projected columnar stream (path + deletionTimestamp only): a
        # 1M-tombstone dry run never materializes the remove dict view.
        # delta-spark parity: VACUUM only ever deletes files under the
        # table directory — a shallow clone's tombstones point at the
        # SOURCE table's files by absolute path, and deleting those
        # would corrupt the source. A relative path without ".." cannot
        # escape the root, so the common case skips the join+abspath
        # pair (~5 µs × 1M tombstones) entirely.
        base_join = self.path.rstrip("/") + "/"
        eligible: list[str] = []  # resolved candidate paths
        for rm in snap.iter_tombstones(("path", "deletionTimestamp")):
            if int(rm.get("deletionTimestamp") or 0) > cutoff_ms:
                continue
            rel = urllib.parse.unquote(rm["path"])
            if (
                "://" not in rel
                and ".." not in rel
                and not rel.startswith(("/", os.sep))
            ):
                eligible.append(base_join + rel)
                continue
            p = fs.join(self.path, rel)
            ap = fs.abspath(p)
            if ap.startswith(root + "/") or ap.startswith(root + os.sep):
                eligible.append(p)
        # superseded deletion-vector bitmaps: every MoR commit re-adds
        # the data path with a NEW merged DV, orphaning the previous
        # .bin — their references die with the cleared tombstone, so
        # sweep the DV directory against the LIVE descriptor set
        from jodie_spark.fs import path_scheme as _scheme_of
        from jodie_spark.tables.deletion_vectors import DV_DIR, dv_absolute_path

        def _dv_plane(p: str) -> str:
            # descriptors written through executor-translated paths are
            # stored plane-absolute; normalize BOTH sides of the
            # liveness comparison to that plane so a schemed table's
            # live bitmap is never mistaken for an orphan
            return fs.spark_path(p) if _scheme_of(p) else p

        live_dvs = set()
        # require="deletionVector": ONE Arrow validity kernel selects the
        # (typically few) DV'd adds; only those rows become Python dicts
        for a in snap.iter_adds(("deletionVector",), require="deletionVector"):
            p = dv_absolute_path(self.path, a["deletionVector"])
            if p:
                live_dvs.add(_dv_plane(fs.abspath(p)))
        dv_dir = fs.join(self.path, DV_DIR)
        orphan_dvs = []
        if fs.isdir(dv_dir):
            for name in fs.listdir(dv_dir):
                p = fs.join(dv_dir, name)
                if (
                    fs.isfile(p)
                    and _dv_plane(fs.abspath(p)) not in live_dvs
                    and fs.mtime_ms(p) <= cutoff_ms
                ):
                    orphan_dvs.append(p)
        if dry_run:
            # batched per-directory existence (one LIST page vs one HEAD
            # per tombstone — a 1M-tombstone dry run on an object store)
            present = fs.existing_files(eligible)
            return [p for p in eligible if p in present] + orphan_dvs
        start_version = self.deltaLog.commit(
            snap.version,
            [],
            "VACUUM START",
            {
                "retentionCheckEnabled": "true",
                "specifiedRetentionMillis": str(int(retention_hours * 3600 * 1000)),
            },
            {"numFilesToDelete": str(len(eligible))},
        )
        deleted = 0
        deleted_bytes = 0
        for p in eligible:
            if fs.isfile(p):
                deleted_bytes += fs.size(p)
                fs.remove(p)
                deleted += 1
        for p in orphan_dvs:
            if fs.isfile(p):
                deleted_bytes += fs.size(p)
                fs.remove(p)
                deleted += 1
        # change-data files referenced only by commits whose timestamp is
        # older than the retention window
        cdc_dir = fs.join(self.path, CHANGE_DATA_DIR)
        if fs.isdir(cdc_dir):
            for v in self.deltaLog.list_commit_versions():
                actions = self.deltaLog.read_actions(v)
                ci = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
                if int(ci.get("inCommitTimestamp") or ci.get("timestamp") or 0) > cutoff_ms:
                    continue
                for a in actions:
                    if "cdc" in a:
                        p = fs.join(self.path, urllib.parse.unquote(a["cdc"]["path"]))
                        if fs.isfile(p):
                            deleted_bytes += fs.size(p)
                            fs.remove(p)
                            deleted += 1
        self.deltaLog.commit(
            start_version,
            [],
            "VACUUM END",
            {"status": "COMPLETED"},
            {"numDeletedFiles": str(deleted), "numVacuumedDirectories": "1"},
        )


class OptimizeBuilder:
    """Compaction and clustering, committed as dataChange=false rewrites.

    Parity targets: deltaTable.optimize().executeCompaction()
    (reference OperationMetricHelperSpec.scala:159) and
    executeZOrderBy (DeltaHelperSpec.scala:980). Z-ORDER is expressed as
    a range-cluster on the given columns: repartitionByRange + in-file
    sort gives the same min/max-tightening that interleaved-bit ordering
    targets, using only Catalyst-native operators.
    """

    def __init__(self, table: DeltaTable, where: str | None = None):
        self.table = table
        self._where = where

    def where(self, condition: str) -> "OptimizeBuilder":
        self._where = condition
        return self

    def _rewrite(
        self,
        cluster_by: list[str] | None,
        target_file_size: int = 128 * 1024 * 1024,
        incremental: bool = False,
    ):
        t = self.table
        snap = t.deltaLog.table_info()
        # OPTIMIZE removes files with dataChange=false — legal on
        # appendOnly tables (the protocol forbids dataChange removes only)
        t.deltaLog.check_write_allowed(snap, removes_data=False)
        schema = t.schema(snap)
        files = plan_candidate_files(
            t.spark,
            t.path,
            t._planning_condition(snap, self._where),
            schema,
            snap.partition_columns,
        )
        def _metrics_df(metrics: dict) -> DataFrame:
            # delta-spark parity: OPTIMIZE returns a metrics row, not
            # the table data (also keeps the no-op path metadata-only);
            # SQL text, not createDataFrame's RDD path
            kv = ", ".join(f"{_str_lit(k)}, {_str_lit(v)}" for k, v in metrics.items())
            return t.spark.sql(
                f"SELECT {_str_lit(t.path)} AS path, "
                f"CAST(map({kv}) AS map<string,string>) AS metrics"
            )

        # zcube signature: logical clustering columns, order-insensitive
        cluster_sig = json.dumps(sorted(cluster_by)) if cluster_by else None
        if cluster_by is None:
            files = [f for f in files if int(f.get("size") or 0) < target_file_size]
            if len(files) < 2:
                return _metrics_df({"numRemovedFiles": "0", "numAddedFiles": "0"})
        elif incremental:
            # liquid clustering is INCREMENTAL (delta's ZCUBE model):
            # files already written by a clustering rewrite on the SAME
            # columns are skipped, so OPTIMIZE cost tracks data written
            # since the last OPTIMIZE — not table size. OPTIMIZE FULL /
            # executeZOrderBy still rewrite everything.
            files = [
                f
                for f in files
                if (f.get("tags") or {}).get("ZCUBE_COLUMNS") != cluster_sig
            ]
            if not files:
                return _metrics_df({"numRemovedFiles": "0", "numAddedFiles": "0"})
        # mapped tables: the whole rewrite runs on physical names (the
        # only logical-name inputs are cluster columns — translate them)
        read_schema = schema
        ms = t._mapping_schemas(snap)
        if ms is not None:
            logical, physical = ms
            phys_of = {lf.name: pf.name for lf, pf in zip(logical.fields, physical.fields)}
            read_schema = physical
            if cluster_by:
                cluster_by = [phys_of.get(c, c) for c in cluster_by]
        # row tracking: OPTIMIZE copies rows unmodified, so ids AND
        # commit versions are materialized through the rewrite
        lineage, lineage_actions = t._lineage_setup(snap, files)
        df = read_files_df(t.spark, t.path, read_schema, files, lineage)
        total_bytes = sum(int(f.get("size") or 0) for f in files)
        n_out = max(1, -(-total_bytes // target_file_size))
        mc = None
        if cluster_by and len(cluster_by) > 1:
            # true Z-ORDER: interleaved-bit morton key, so EVERY
            # clustered column gets min/max locality (lexicographic
            # range clustering only tightens the first column); None
            # for a non-numeric column, which falls back to it
            from jodie_spark.tables.zorder import morton_column

            mc = morton_column(df, list(cluster_by))
        if mc is not None:
            df = (
                df.withColumn("__zorder__", mc)
                .repartitionByRange(int(n_out), F.col("__zorder__"))
                .sortWithinPartitions("__zorder__")
                .drop("__zorder__")
            )
        elif cluster_by:
            keys = [F.col(quote_ident(c)) for c in cluster_by]
            df = df.repartitionByRange(int(n_out), *keys).sortWithinPartitions(*keys)
        else:
            df = df.coalesce(int(n_out))
        stat_exclude = None
        if lineage is not None:
            from jodie_spark.tables.row_lineage import LIN_RCV, LIN_RID

            df = df.withColumnRenamed(LIN_RID, lineage[0]).withColumnRenamed(
                LIN_RCV, lineage[1]
            )
            stat_exclude = set(lineage)
        adds = write_data_files(
            df, t.path, snap.partition_columns, stat_exclude=stat_exclude,
            table_config=snap.configuration,
        )
        for a in adds:
            a["dataChange"] = False
        if cluster_sig is not None:
            # stamp the zcube so the next incremental OPTIMIZE skips
            # these files (tags round-trip through both checkpoint
            # writers and files_df)
            import uuid as _uuid

            zid = str(_uuid.uuid4())
            for a in adds:
                a["tags"] = dict(
                    a.get("tags") or {}, ZCUBE_ID=zid, ZCUBE_COLUMNS=cluster_sig
                )
        now_ms = int(time.time() * 1000)
        actions = lineage_actions + [{"add": a} for a in adds]
        actions += [remove_action(r, now_ms, data_change=False) for r in files]
        metrics = {
            "numRemovedFiles": str(len(files)),
            "numAddedFiles": str(len(adds)),
            "numRemovedBytes": str(total_bytes),
            "numAddedBytes": str(sum(int(a.get("size") or 0) for a in adds)),
        }
        params = {"predicate": self._where or "[]"}
        if cluster_by:
            params["zOrderBy"] = json.dumps(cluster_by)
        t.deltaLog.commit(snap.version, actions, "OPTIMIZE", params, metrics)
        return _metrics_df(metrics)

    def executeCompaction(self, target_file_size: int = 128 * 1024 * 1024) -> DataFrame:
        """Bin-packing compaction — except on a liquid-clustered table,
        where OPTIMIZE re-clusters on the table's clustering columns
        (delta parity: OPTIMIZE of a clustered table is a clustering
        rewrite, not a plain coalesce — and an INCREMENTAL one: only
        files not already in a zcube on the current clustering columns
        rewrite, so cost tracks new data, not table size)."""
        cluster_cols = self.table.cluster_by()
        if cluster_cols:
            return self._rewrite(cluster_cols, target_file_size, incremental=True)
        return self._rewrite(None, target_file_size)

    execute_compaction = executeCompaction

    def executeFull(self, target_file_size: int = 128 * 1024 * 1024) -> DataFrame:
        """OPTIMIZE ... FULL: re-cluster EVERY candidate file on the
        table's clustering columns, ignoring zcube tags (delta's escape
        hatch after heavy skew or an ALTER CLUSTER BY)."""
        cluster_cols = self.table.cluster_by()
        return self._rewrite(cluster_cols or None, target_file_size)

    execute_full = executeFull

    def executeZOrderBy(
        self, *cols: str, target_file_size: int = 128 * 1024 * 1024
    ) -> DataFrame:
        flat: list[str] = []
        for c in cols:
            flat.extend(c if isinstance(c, (list, tuple)) else [c])
        return self._rewrite(flat, target_file_size)

    execute_z_order_by = executeZOrderBy


AUTO_COMPACT_PROP = "delta.autoOptimize.autoCompact"
AUTO_COMPACT_MIN_FILES_PROP = "jodie.autoCompact.minNumFiles"


def maybe_auto_compact(
    table: DeltaTable,
    target_file_size: int = 128 * 1024 * 1024,
    config: dict[str, str] | None = None,
) -> bool:
    """Post-commit auto-compaction (delta.autoOptimize.autoCompact):
    when the table has accumulated at least ``minNumFiles`` (default
    50, override with jodie.autoCompact.minNumFiles) files smaller
    than the target size, run a bin-packing OPTIMIZE. The count runs
    Spark-side over files_df — never a driver file-list replay. Errors
    never fail the triggering write (compaction is an optimization);
    they warn.
    ``config``: the triggering operation's snapshot configuration —
    passing it skips a redundant log replay (the knob check reads at
    the transaction's own snapshot, delta-spark's behavior)."""
    try:
        cfg = config if config is not None else table.deltaLog.table_info().configuration
        if str(cfg.get(AUTO_COMPACT_PROP, "false")).lower() != "true":
            return False
        min_files = int(cfg.get(AUTO_COMPACT_MIN_FILES_PROP, 50))
        from jodie_spark.tables.distribution import files_df

        n_small = (
            files_df(table.spark, table.path)
            .filter(F.col("size") < target_file_size)
            .count()
        )
        if n_small < max(min_files, 2):
            return False
        table.optimize().executeCompaction(target_file_size)
        return True
    except Exception as e:
        try:
            at = f"{table.path}@{table.deltaLog.latest_version()}"
        except Exception:  # the log itself may be what failed
            at = table.path
        warnings.warn(
            f"{at}: auto compaction failed — {type(e).__name__}: {e} "
            "(the triggering write stands)",
            RuntimeWarning,
            stacklevel=2,
        )
        return False


def filter_by_paths(df: DataFrame, path_col: str, paths: set[str]) -> DataFrame:
    """Keep rows whose ``path_col`` is in ``paths``. Small sets inline as
    an IN list; large sets become a broadcast semi-join so the predicate
    doesn't explode the plan at 10^5+ touched files."""
    if len(paths) <= 1000:
        return df.filter(F.col(path_col).isin(list(paths)))
    names = df.sparkSession.createDataFrame([(p,) for p in paths], f"{path_col} string")
    return df.join(F.broadcast(names), path_col, "left_semi")


def map_scanned_uris(
    table_path: str, adds: list[dict[str, Any]], uris
) -> list[tuple[str, dict[str, Any]]]:
    """The one URI-to-add mapping: each of Spark's ``_metadata.file_path``
    / ``input_file_name()`` URIs paired with every add of ``adds`` that
    names its file (one, unless ``adds`` lists a file twice), in URI
    order. Both sides go through the shared canonicalization
    (``jodie_spark.fs.add_path_key`` / ``scanned_path_key``):
    percent-encoding and the data-plane spelling are where hand-built
    variants have diverged before. A URI that maps to no add RAISES:
    reading a file without its add's deletion vector, row ids or
    partition values, or rewriting against a partial touched set, would
    return wrong rows silently."""
    from jodie_spark.fs import add_path_key, scanned_path_key

    by_key: dict[str, list[dict[str, Any]]] = {}
    for a in adds:
        by_key.setdefault(add_path_key(table_path, a["path"]), []).append(a)
    out = []
    for u in sorted(uris):
        got = by_key.get(scanned_path_key(u))
        if not got:
            raise DeltaProtocolError(
                f"cannot map scanned file {u!r} back to an add entry of "
                f"{table_path}; refusing to read or rewrite it without its add"
            )
        out += [(u, a) for a in got]
    return out


def scanned_files(
    df: DataFrame, table_path: str, adds: list[dict[str, Any]]
) -> list[tuple[str, dict[str, Any]]]:
    """:func:`map_scanned_uris` over the files ``df`` (a scan of
    ``adds`` carrying ``__fp__``) read, their URIs learned in ONE
    observed noop job (:func:`observed_file_uris`; none for no adds)."""
    uris = observed_file_uris(select_expr(df, "__fp__"), "__fp__") if adds else ()
    return map_scanned_uris(table_path, adds, uris)


def map_touched_paths(
    table_path: str,
    candidates: list[dict[str, Any]],
    raw_paths: set[str],
) -> list[dict[str, Any]]:
    """The candidate adds a touched-file probe's URIs name
    (:func:`map_scanned_uris`, which raises on a URI that maps to none)."""
    touched = map_scanned_uris(table_path, candidates, raw_paths)
    return list({a["path"]: a for _, a in touched}.values())


def observed_metrics(df: DataFrame, **metrics: str) -> dict[str, Any]:
    """Run ``df`` by ONE noop action while observing ``metrics`` (name →
    SQL aggregate text) and return their values. Every touched-file and
    URI-spelling probe runs through here: observing
    ``collect_set(<file col>)`` finds the files a scan read without a
    shuffle (a plain scan is one Spark job; ``distinct().collect()`` is
    two). The action runs in ``df``'s session, which is where the
    observation fires (the field-id child session on ``mode=id``
    tables).

    Observe at the TOP of the plan: Spark still reports metrics there
    over an empty source or a filter that folds to false, but AQE's
    empty-relation propagation can drop an observation that sits under
    a shuffle. A missing metric raises (:func:`observation_values`)."""
    df, obs = observe(df, metrics)
    df.write.format("noop").mode("overwrite").save()
    return observation_values(obs, "probe")


def observation_values(obs: Observation, what: str) -> dict[str, Any]:
    """The metrics a :func:`~jodie_spark.tables.gateway.observe`
    observation reported after its action ran. A missing report RAISES:
    the probe's file set and a DML rewrite's match count decide what
    commits, and read as "no files" or 0 they would make a DML commit
    nothing, or a merge re-insert its matched rows as duplicates."""
    got = observed(obs)
    if got is None:
        raise DeltaProtocolError(
            f"the {what}'s observation reported no metrics; refusing to "
            "read it as nothing matched"
        )
    return got


def observed_file_uris(df: DataFrame, col: str) -> set[str]:
    """The distinct values of ``col`` — Spark's URI spelling of the files
    ``df``'s rows came from — through :func:`observed_metrics`."""
    return set(observed_metrics(df, files=f"collect_set({col})")["files"] or ())


# ---------------------------------------------------------------------------
# writer entry point
# ---------------------------------------------------------------------------

GENERATION_EXPR_KEY = "delta.generationExpression"
COLUMN_DEFAULT_KEY = "CURRENT_DEFAULT"  # delta allowColumnDefaults feature


def column_defaults_of(schema: T.StructType) -> dict[str, str]:
    """column → default expression from field metadata (the delta
    ``allowColumnDefaults`` storage location)."""
    out: dict[str, str] = {}
    for f in schema.fields:
        expr = (f.metadata or {}).get(COLUMN_DEFAULT_KEY)
        if expr:
            out[f.name] = str(expr)
    return out


def generated_columns_of(schema: T.StructType) -> dict[str, str]:
    """column → generation expression, from schema field metadata (the
    Delta protocol's storage location for generated columns)."""
    out: dict[str, str] = {}
    for f in schema.fields:
        expr = (f.metadata or {}).get(GENERATION_EXPR_KEY)
        if expr:
            out[f.name] = str(expr)
    return out


def apply_generated_columns(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Delta generated-column write semantics: a generated column ABSENT
    from the written DataFrame is computed from its expression; one the
    writer DID provide is validated against the expression (null-safe
    equality) with an in-scan assert — providing a wrong value fails
    the write instead of silently diverging from the contract."""
    gen = generated_columns_of(schema)
    for name, expr in gen.items():
        target_type = schema[name].dataType
        computed = F.expr(expr).cast(target_type)
        if name not in df.columns:
            df = df.withColumn(name, computed)
        else:
            df = df.filter(
                F.assert_true(
                    F.col(quote_ident(name)).eqNullSafe(computed),
                    F.lit(
                        f"generated column {name} does not match its "
                        f"generation expression ({expr})"
                    ),
                ).isNull()
            )
    return df


def write_delta(
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
    generated_columns: dict[str, str] | None = None,
    identity_columns: dict[str, dict[str, Any]] | None = None,
    cluster_by: list[str] | None = None,
    column_defaults: dict[str, str] | None = None,
    known_empty: bool = False,
) -> DeltaTable:
    """``df.write.format("delta").mode(m).save(path)`` equivalent.

    ``known_empty=True`` asserts ``df`` has no rows (the SQL front end
    passes it for pure-DDL CREATE, whose relation is a literal empty
    LocalRelation): the writer then skips the three Spark jobs the
    empty relation would otherwise run — ``isEmpty``, the identity
    empty-assign count, and the staging parquet write that produces no
    files — and commits metadata only, byte-identical to the log the
    empty write produced.

    ``identity_columns`` (create only) declares Delta identity columns
    (writer feature v6): ``{"id": {"start": 1, "step": 1,
    "allow_explicit": False}}``. An omitted identity column gets
    generated values; later appends continue past the persisted high
    watermark. See ``jodie_spark.tables.identity``.

    ``cluster_by`` (create only) declares a liquid-clustered table
    (writer feature ``clustering``): the clustering columns persist in
    the ``delta.clustering`` domainMetadata, the initial write is
    range-clustered on them, and OPTIMIZE re-clusters instead of
    bin-packing. Mutually exclusive with ``partition_by`` (delta
    parity).

    Writer options: ``mergeSchema`` (allow-add-columns append,
    reference DeltaHelpers.scala:375-378), ``overwriteSchema``; any
    other option is persisted as a table property on create — matching
    Delta's ``delta.*`` option pass-through relied on by copyTable
    (reference DeltaHelpers.scala:409-416).

    Idempotent writes (delta-spark parity): pass ``txnAppId`` +
    ``txnVersion`` and a retried write whose (appId, version) was
    already committed becomes a NO-OP instead of duplicating data —
    the exactly-once contract jobs with retrying schedulers need. The
    commit records a ``txn`` action; versions must be monotone per app.
    """
    spark = df.sparkSession
    from jodie_spark.fs import get_fs, strip_file_scheme

    path = get_fs(path).abspath(strip_file_scheme(path))
    options = dict(options or {})
    partition_by = list(partition_by or [])
    log = DeltaLog(path)
    exists = log.exists()

    txn_app = options.get("txnAppId")
    txn_ver = options.get("txnVersion")
    if (txn_app is None) != (txn_ver is None):
        raise JodieValidationError(
            "txnAppId and txnVersion must be set together for idempotent writes"
        )
    txn_actions: list[dict[str, Any]] = []
    if txn_app is not None:
        txn_ver = int(txn_ver)
        if exists:
            last = log.latest_txn_version(str(txn_app))
            if last is not None and txn_ver <= last:
                return DeltaTable(spark, path)  # already applied — no-op
        txn_actions = [{"txn": {"appId": str(txn_app), "version": txn_ver}}]

    if exists:
        if mode in ("error", "errorifexists"):
            raise JodieValidationError(f"path {path} already exists.")
        if mode == "ignore":
            return DeltaTable(spark, path)

    merge_schema = str(options.get("mergeSchema", "false")).lower() == "true"
    overwrite_schema = str(options.get("overwriteSchema", "false")).lower() == "true"

    if not exists:
        properties = {
            k: str(v) for k, v in options.items() if k not in RESERVED_WRITER_OPTIONS
        }
        # column → field metadata to stamp: generation expressions,
        # identity specs and CURRENT_DEFAULT live in the schema's field
        # metadata (the protocol's storage location), so later writes
        # honor them
        stamps: dict[str, dict[str, Any]] = {}
        for name, expr in (generated_columns or {}).items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
            stamps.setdefault(name, {})[GENERATION_EXPR_KEY] = expr
        if identity_columns:
            from jodie_spark.tables.identity import (
                assign_identity_values,
                identity_field_metadata,
            )

            for name, spec in identity_columns.items():
                start = int(spec.get("start", 1))
                step = int(spec.get("step", 1))
                if step == 0:
                    raise JodieValidationError(
                        "identity column step must be non-zero"
                    )
                allow = bool(spec.get("allow_explicit", False))
                hwm: int | None = None
                if name in df.columns and not allow and (known_empty or df.isEmpty()):
                    # pure DDL create (empty relation with the identity
                    # column declared): no values were provided — assign
                    # normally, keeping the declared column order
                    order = [F.col(quote_ident(c)) for c in df.columns]
                    if known_empty:
                        # assign_identity_values' empty-input result
                        # (NULL column, no watermark) without its count job
                        df = df.drop(name).withColumn(
                            name, F.lit(None).cast("long")
                        )
                    else:
                        df, hwm = assign_identity_values(
                            df.drop(name), name, start, step
                        )
                    df = df.select(*order)
                elif name in df.columns:
                    if not allow:
                        raise JodieValidationError(
                            f"providing values for GENERATED ALWAYS identity "
                            f"column {name!r} at create requires "
                            "allow_explicit=True"
                        )
                    if not isinstance(
                        df.schema[name].dataType, (T.LongType, T.IntegerType)
                    ):
                        raise JodieValidationError(
                            f"identity column {name!r} must be integer-typed"
                        )
                else:
                    df, hwm = assign_identity_values(df, name, start, step)
                stamps.setdefault(name, {}).update(
                    identity_field_metadata(start, step, allow, hwm)
                )
        # refused before any data file is written
        if cluster_by:
            if partition_by:
                raise JodieValidationError(
                    "cluster_by and partition_by are mutually exclusive "
                    "(liquid clustering replaces Hive partitioning)"
                )
            missing_cc = [c for c in cluster_by if c not in df.columns]
            if missing_cc:
                raise JodieValidationError(
                    f"cluster_by columns not in data: {missing_cc}"
                )
        missing_cd = [c for c in column_defaults or {} if c not in df.columns]
        if missing_cd:
            raise JodieValidationError(
                f"column_defaults for columns not in data: {missing_cd}"
            )
        for name, expr in (column_defaults or {}).items():
            stamps.setdefault(name, {})[COLUMN_DEFAULT_KEY] = expr
        if stamps:
            df = df.select(
                *[
                    F.col(quote_ident(f.name)).alias(
                        f.name, metadata={**(f.metadata or {}), **stamps[f.name]}
                    )
                    if f.name in stamps
                    else F.col(quote_ident(f.name))
                    for f in df.schema.fields
                ]
            )
        mapping_mode = str(properties.get("delta.columnMapping.mode", "none"))
        if mapping_mode not in ("none", "name"):
            raise DeltaProtocolError(
                f"column mapping mode {mapping_mode!r} is not supported (use 'name')"
            )
        out_df = enforce_nullability(
            enforce_check_constraints(df, properties), df.schema
        )
        part_cols = partition_by
        schema_for_meta = df.schema
        if mapping_mode == "name":
            # new mapped tables get fresh col-<uuid> physical names
            # (delta-spark parity); files + partition dirs are physical
            from jodie_spark.tables.column_mapping import (
                MAX_ID_PROP,
                assign_column_mapping,
                rename_to_physical,
                to_physical_schema,
            )

            schema_for_meta, max_id = assign_column_mapping(
                df.schema, 0, fresh_physical=True
            )
            properties[MAX_ID_PROP] = str(max_id)
            phys = to_physical_schema(schema_for_meta)
            out_df = rename_to_physical(out_df, schema_for_meta, phys)
            phys_of = {
                lf.name: pf.name
                for lf, pf in zip(schema_for_meta.fields, phys.fields)
            }
            part_cols = [phys_of[c] for c in partition_by]
        adds = [] if known_empty else write_data_files(out_df, path, part_cols)
        import uuid as _uuid

        meta = {
            "id": str(_uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_for_meta.json(),
            "partitionColumns": part_cols,
            "configuration": properties,
            "createdTime": int(time.time() * 1000),
        }
        from jodie_spark.tables.log import ROW_TRACKING_PROP

        row_tracking = (
            str(properties.get(ROW_TRACKING_PROP, "false")).lower() == "true"
        )
        if row_tracking:
            # assign the materialized row-lineage column names up front
            # (file rewrites write preserved ids under these names —
            # delta-spark does the same at enable time); `properties`
            # IS meta["configuration"], so this lands in the commit
            from jodie_spark.tables.row_lineage import (
                MAT_RCV_PROP,
                MAT_RID_PROP,
                fresh_materialized_names,
            )

            if not properties.get(MAT_RID_PROP) or not properties.get(MAT_RCV_PROP):
                rid_name, rcv_name = fresh_materialized_names()
                properties.setdefault(MAT_RID_PROP, rid_name)
                properties.setdefault(MAT_RCV_PROP, rcv_name)
        actions = (
            [{"metaData": meta}]
            + ([_clustering_domain(cluster_by)] if cluster_by else [])
            + txn_actions
            + [{"add": a} for a in adds]
        )
        log.commit(
            -1,
            actions,
            "WRITE",
            {"mode": "ErrorIfExists", "partitionBy": json.dumps(partition_by)},
            write_metrics(adds),
        )
        return DeltaTable(spark, path)

    table = DeltaTable(spark, path)
    if generated_columns:
        raise JodieValidationError(
            "generated_columns can only be declared at table creation"
        )
    if identity_columns:
        raise JodieValidationError(
            "identity_columns can only be declared at table creation"
        )
    if cluster_by:
        raise JodieValidationError(
            "cluster_by can only be declared at table creation "
            "(use DeltaTable.set_cluster_by to change it)"
        )
    if column_defaults:
        raise JodieValidationError(
            "column_defaults can only be declared at table creation"
        )
    snap = table.snapshot()
    table.deltaLog.check_write_allowed(snap, removes_data=(mode == "overwrite"))
    table_schema = table.schema(snap)
    # compute/validate generated columns declared in the table schema
    df = apply_generated_columns(df, table_schema)
    # generate identity values for omitted identity columns (and gate
    # explicit inserts); a non-None schema means the watermark advanced
    # and the commit must carry the updated metaData
    from jodie_spark.tables.identity import apply_identity_on_write

    df, _id_schema = apply_identity_on_write(df, table_schema)
    if _id_schema is not None:
        table_schema = _id_schema
    eff_partition = snap.partition_columns if not partition_by else partition_by
    table_cols = [f.name for f in table_schema.fields]
    df_cols = list(df.columns)

    if mode == "append":
        extra = [c for c in df_cols if c not in table_cols]
        if extra and not merge_schema:
            raise JodieValidationError(
                f"A schema mismatch detected when writing to the Delta table: "
                f"extra columns {extra}. Set option mergeSchema=true to allow."
            )
        # -- type reconciliation (delta parity): narrower incoming data
        # up-casts to the table type silently; WIDER incoming data
        # widens the table schema under mergeSchema — but only when
        # the table opted in via delta.enableTypeWidening (widening
        # upgrades the reader protocol, which must never happen
        # silently; delta-spark gates it the same way); anything else
        # fails AT WRITE TIME instead of producing files later reads
        # choke on
        widening_ok = (
            str(snap.configuration.get("delta.enableTypeWidening", "false")).lower()
            == "true"
        )
        widened: dict[str, T.DataType] = {}
        for f in df.schema.fields:
            if f.name not in table_cols:
                continue
            tt = table_schema[f.name].dataType
            if f.dataType == tt:
                continue
            if _can_widen(f.dataType, tt):
                df = df.withColumn(f.name, F.col(quote_ident(f.name)).cast(tt))
            elif _can_widen(tt, f.dataType) and merge_schema and widening_ok:
                widened[f.name] = f.dataType
            else:
                if merge_schema and _can_widen(tt, f.dataType):
                    hint = (
                        " (automatic type widening needs the "
                        "delta.enableTypeWidening=true table property)"
                    )
                elif not merge_schema:
                    hint = " (widening like int->long needs mergeSchema=true)"
                else:
                    hint = ""
                raise JodieValidationError(
                    f"column {f.name!r}: incoming type "
                    f"{f.dataType.simpleString()} is incompatible with table "
                    f"type {tt.simpleString()}{hint}"
                )
        if widened:
            table_schema = _widen(table_schema, widened, snap.version + 1)
        new_schema = table_schema
        if extra:
            new_schema = T.StructType(
                list(table_schema.fields) + [df.schema[c] for c in extra]
            )
        defaults = column_defaults_of(table_schema)
        aligned = df.select(
            *[
                F.col(quote_ident(f.name))
                if f.name in df_cols
                else (
                    # absent column with a declared default: fill with
                    # the default expression (allowColumnDefaults),
                    # otherwise typed null
                    F.expr(defaults[f.name]).cast(f.dataType).alias(f.name)
                    if f.name in defaults
                    else F.lit(None).cast(f.dataType).alias(f.name)
                )
                for f in new_schema.fields
            ]
        )
        from jodie_spark.tables.column_mapping import column_mapping_mode

        _mode = column_mapping_mode(snap.metadata)
        mapped = _mode in ("name", "id")
        conf_update: dict[str, str] | None = None
        if extra and mapped:
            # mergeSchema-added columns on a mapped table need ids +
            # fresh physical names before the metadata commit
            from jodie_spark.tables.column_mapping import (
                MAX_ID_PROP,
                assign_column_mapping,
                max_column_id,
            )

            new_schema, max_id = assign_column_mapping(
                new_schema, start_id=max_column_id(snap.metadata), fresh_physical=True
            )
            conf_update = {MAX_ID_PROP: str(max_id)}
        out_df = enforce_nullability(
            enforce_check_constraints(aligned, snap.configuration), new_schema
        )
        if mapped:
            # constraints/generation run on logical names above; the
            # parquet files store physical names (and, on mode=id
            # tables, footer field ids via the projection metadata)
            from jodie_spark.tables.column_mapping import (
                rename_to_physical,
                to_physical_schema,
            )

            out_df = rename_to_physical(
                out_df,
                new_schema,
                to_physical_schema(new_schema, with_field_ids=(_mode == "id")),
            )
        adds = write_data_files(out_df, path, snap.partition_columns)
        actions = txn_actions + [{"add": a} for a in adds]
        if extra or widened or _id_schema is not None:
            meta = dict(snap.metadata)
            meta["schemaString"] = new_schema.json()
            if conf_update:
                meta["configuration"] = {
                    **(meta.get("configuration") or {}),
                    **conf_update,
                }
            actions.insert(0, {"metaData": meta})
        log.commit(
            snap.version,
            actions,
            "WRITE",
            {"mode": "Append", "partitionBy": json.dumps(snap.partition_columns)},
            write_metrics(adds),
        )
        maybe_auto_compact(table, config=snap.configuration)
        return table

    if mode == "overwrite":
        # any schema difference — missing/extra/reordered columns or changed
        # types — requires an explicit overwriteSchema, matching delta-spark's
        # AnalysisException behavior (silent column loss otherwise)
        schema_changed = [(f.name, f.dataType) for f in df.schema.fields] != [
            (f.name, f.dataType) for f in table_schema.fields
        ]  # nullability/metadata differences are not schema changes
        if schema_changed and not (overwrite_schema or merge_schema):
            raise JodieValidationError(
                "A schema mismatch detected when writing to the Delta table. "
                f"Table schema columns: {table_cols}; data schema columns: {df_cols}. "
                "Set option overwriteSchema=true to overwrite the schema."
            )
        if schema_changed:
            from jodie_spark.tables.identity import identity_columns_of

            if identity_columns_of(table_schema):
                raise JodieValidationError(
                    "overwriteSchema on a table with identity columns is not "
                    "supported (the identity definition would be lost)"
                )
        from jodie_spark.tables.column_mapping import column_mapping_mode

        _mode = column_mapping_mode(snap.metadata)
        mapped = _mode in ("name", "id")
        if mapped and (schema_changed or eff_partition != snap.partition_columns):
            raise JodieValidationError(
                "schema or partitioning changes on a column-mapped table must "
                "go through add_columns/rename_column/drop_column"
            )
        out_df = enforce_nullability(
            enforce_check_constraints(df, snap.configuration),
            df.schema if schema_changed else table_schema,
        )
        if mapped:
            from jodie_spark.tables.column_mapping import (
                rename_to_physical,
                to_physical_schema,
            )

            out_df = rename_to_physical(
                out_df,
                table_schema,
                to_physical_schema(table_schema, with_field_ids=(_mode == "id")),
            )
        adds = write_data_files(out_df, path, eff_partition)
        now_ms = int(time.time() * 1000)
        actions: list[dict[str, Any]] = list(txn_actions)
        if (
            schema_changed
            or eff_partition != snap.partition_columns
            or _id_schema is not None
        ):
            meta = dict(snap.metadata)
            # unchanged schemas keep the table's field metadata (identity
            # watermarks, generation expressions) that the incoming
            # DataFrame's plain schema would silently drop
            meta["schemaString"] = (
                df.schema.json() if schema_changed else table_schema.json()
            )
            meta["partitionColumns"] = eff_partition
            actions.append({"metaData": meta})
        actions += [{"add": a} for a in adds]
        # projected: the overwrite's remove sweep needs no stats payloads
        actions += [remove_action(r, now_ms) for r in snap.iter_adds(REMOVE_COLUMNS)]
        log.commit(
            snap.version,
            actions,
            "WRITE",
            {"mode": "Overwrite", "partitionBy": json.dumps(eff_partition)},
            write_metrics(adds),
        )
        return table

    raise JodieValidationError(f"unknown save mode: {mode}")
