"""PySpark Python DataSource for the native Delta tables: the idiomatic
Spark-4 way to plug this engine into ``spark.read`` / ``readStream`` /
``write``:

    from jodie_spark.sources.datasource import register
    register(spark)
    df = spark.read.format("jodie_delta").load(path)
    stream = spark.readStream.format("jodie_delta").load(path)
    df.write.format("jodie_delta").mode("append").save(path)

Scale shape: planning is driver-side over the log (one InputPartition
per data file — same granularity as any file source), file bytes are
read by *executors* with pyarrow and handed to Spark as Arrow batches
(zero row-at-a-time Python), and supported filters prune files via the
stats pruner before Spark ever schedules a task (Spark re-applies every
filter, so pruning can never change results). The stream reader follows
Delta's source semantics: first batch = current snapshot, then one
batch per commit range of dataChange adds; dataChange removes fail the
stream unless ``ignoreDeletes`` (delete-only commits) /
``ignoreChanges`` (rewrites served) / ``skipChangeCommits`` (change
commits dropped) allows them; ``maxFilesPerTrigger`` rate-limits both
the plain and CDF stream at commit granularity.

Parity: delta-spark's DeltaDataSource (batch+stream read, append/
overwrite write) — rebuilt on the public Python DataSource API
(SPARK-44076) instead of DataSource V2 Scala internals.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import urllib.parse
import uuid
from typing import TYPE_CHECKING, Any, Callable, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    import pyarrow as pa

FORMAT_NAME = "jodie_delta"


def register(spark) -> None:
    """Register the ``jodie_delta`` format on this session (and enable
    Python-datasource filter pushdown, which gates the stats-pruning
    ``pushFilters`` hook)."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static conf in some deployments; reader degrades gracefully
    spark.dataSource.register(JodieDeltaDataSource)


# ---------------------------------------------------------------------------
# shared partition + arrow-batch plumbing
# ---------------------------------------------------------------------------


class _FilePartition(InputPartition):
    def __init__(
        self,
        file_path: str,
        partition_values: dict[str, str],
        dv: dict | None = None,
        table_path: str | None = None,
        base_row_id: int | None = None,
        row_commit_version: int | None = None,
        mat_rid: str | None = None,
        mat_rcv: str | None = None,
    ):
        self.file_path = file_path
        self.partition_values = dict(partition_values or {})
        # deletionVector descriptor (+ table path to resolve 'u'
        # storage); deleted row indexes are masked executor-side
        self.dv = dv
        self.table_path = table_path
        # row tracking: _row_id = coalesce(materialized column,
        # base_row_id + physical row index) — rewritten files carry
        # preserved ids under the table's materialized column names
        self.base_row_id = base_row_id
        self.row_commit_version = row_commit_version
        self.mat_rid = mat_rid
        self.mat_rcv = mat_rcv
        # column mapping: logical name -> physical parquet/partition name
        self.name_map: dict[str, str] | None = None
        # mode=id: logical name -> parquet footer field id
        self.field_ids: dict[str, int] | None = None


class _FileBatchPartition(InputPartition):
    """Several files served by ONE Spark task.

    Above ``_BATCH_FILES_THRESHOLD`` active files the one-task-per-file
    plan stops scaling: a million-file table would schedule a million
    tasks (scheduler overhead dwarfs the reads) and pickle a
    million-element partition list through the planning worker. Files
    are greedily packed by their log-recorded ``size`` up to
    ``_BATCH_TARGET_BYTES`` (Spark's own maxPartitionBytes default)
    and ``_BATCH_MAX_FILES`` per task — the same sizing rule Spark's
    native file scans use, minus intra-file splits (a parquet file
    never splits across tasks here). Below the threshold the
    per-file plan is unchanged, preserving small-table parallelism."""

    def __init__(self, files: list[_FilePartition]):
        self.files = files


_BATCH_FILES_THRESHOLD = 1000
_BATCH_TARGET_BYTES = 128 * 1024 * 1024
_BATCH_MAX_FILES = 1000


def _pack_file_partitions(
    parts: list[_FilePartition], sizes: list[int], threshold: int | None = None
) -> list[InputPartition]:
    """Greedy size-bounded packing, log order preserved (consecutive
    files usually share partition directories → locality)."""
    if len(parts) <= (threshold if threshold is not None else _BATCH_FILES_THRESHOLD):
        return list(parts)
    out: list[InputPartition] = []
    cur: list[_FilePartition] = []
    cur_bytes = 0
    for fp, size in zip(parts, sizes):
        if cur and (
            cur_bytes + size > _BATCH_TARGET_BYTES or len(cur) >= _BATCH_MAX_FILES
        ):
            out.append(_FileBatchPartition(cur))
            cur, cur_bytes = [], 0
        cur.append(fp)
        cur_bytes += size
    if cur:
        out.append(_FileBatchPartition(cur))
    return out


def _pack_add_partitions(
    adds: "Sequence[dict]",
    make_fp: "Callable[[dict], _FilePartition]",
    threshold: int | None = None,
) -> list[InputPartition]:
    """Shared build-then-pack for the batch and stream readers: one
    _FilePartition per add, greedily packed by the adds' log-recorded
    sizes (see _pack_file_partitions)."""
    parts: list[_FilePartition] = []
    sizes: list[int] = []
    for a in adds:
        parts.append(make_fp(a))
        sizes.append(int(a.get("size") or 0))
    return _pack_file_partitions(parts, sizes, threshold)


def _read_packed(partition, schema: StructType):
    """Shared read-side unwrap: a packed batch yields each member file's
    record batches in order; a bare _FilePartition reads directly."""
    if partition is None:  # empty table / fully pruned scan
        return
    if isinstance(partition, _FileBatchPartition):
        for fp in partition.files:
            yield from _read_file_batches(fp, schema)
        return
    yield from _read_file_batches(partition, schema)


def _read_cdf_packed(partition, schema: StructType):
    """CDF flavor of _read_packed (the member read fn differs)."""
    if partition is None:  # no change files in the batch's range
        return
    if isinstance(partition, _FileBatchPartition):
        for fp in partition.files:
            yield from _read_cdf_file_batches(fp, schema)
        return
    yield from _read_cdf_file_batches(partition, schema)


def _parse_partition_value(raw: str | None, spark_type_name: str) -> Any:
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    t = spark_type_name
    if t in ("int", "integer", "bigint", "long", "smallint", "short", "tinyint", "byte"):
        return int(raw)
    if t in ("double", "float"):
        return float(raw)
    if t == "boolean":
        return raw.lower() == "true"
    if t == "date":
        import datetime as _dt

        return _dt.date.fromisoformat(raw)
    return raw




def _logical_physical_map(
    metadata: dict,
) -> tuple[dict[str, str] | None, dict[str, int] | None]:
    """(logical → physical top-level column names, logical → parquet
    field id) for a column-mapped table; (None, None) when unmapped.

    mode=name resolves by physicalName alone. mode=id additionally
    ships the per-column ``delta.columnMapping.id`` so the executor
    can match parquet columns by FOOTER FIELD ID (foreign writers'
    parquet column names need not equal physicalName — e.g.
    Iceberg-converted tables); physicalName stays the fallback for
    files without footer ids and keys the log's partitionValues."""
    from pyspark.sql.types import StructType as _St

    from jodie_spark.tables.column_mapping import (
        ID_KEY,
        column_mapping_mode,
        to_physical_schema,
    )

    mode = column_mapping_mode(metadata)
    if mode not in ("name", "id"):
        return None, None
    logical = _St.fromJson(json.loads(metadata["schemaString"]))
    physical = to_physical_schema(logical)
    nm = {
        lf.name: pf.name
        for lf, pf in zip(logical.fields, physical.fields)
        if lf.name != pf.name
    }
    fids = None
    if mode == "id":
        fids = {
            f.name: int(f.metadata[ID_KEY])
            for f in logical.fields
            if f.metadata and ID_KEY in f.metadata
        }
    return nm or None, fids or None



def _opt_path(options) -> str | None:
    """Normalize the user's path option: file:// URIs become plain
    local paths (Spark surfaces them either way); other schemes pass
    through to the storage facade."""
    from jodie_spark.fs import strip_file_scheme

    p = options.get("path")
    return strip_file_scheme(p) if p else p


def _data_path(table_path: str, rel: str) -> str:
    """Driver-side: join a table-relative data-file path and translate
    it for executor-side access (jodie_spark.fs facade) — executors
    never consult the driver's filesystem registry."""
    from jodie_spark.fs import get_fs

    fs = get_fs(table_path)
    return fs.executor_path(fs.join(table_path, rel))


def _open_parquet(path: str):
    """Executor-side parquet source: local paths pass straight to
    pyarrow; schemed URIs (real object stores) open through the facade
    (ArrowFileSystem is rebuilt from the scheme alone on executors)."""
    from jodie_spark.fs import get_fs, path_scheme

    if path_scheme(path) is None:
        return path
    return get_fs(path).open_input(path)


def _fid_align(arr, file_type, logical_dt):
    """Executor-side recursive alignment of one Arrow column to a
    logical Spark type for column mapping mode=id: nested struct
    fields resolve by PARQUET footer field id (authoritative), then by
    physicalName, then by logical name; unmatched logical fields fill
    with typed nulls (schema evolution). Non-nested types fall through
    to a plain cast."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    from jodie_spark.tables.column_mapping import ID_KEY, PHYSICAL_NAME_KEY

    target = to_arrow_type(logical_dt)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if (
        isinstance(logical_dt, T.StructType)
        and pa.types.is_struct(file_type)
        and pa.types.is_struct(target)
    ):
        by_fid: dict[int, int] = {}
        by_name: dict[str, int] = {}
        for i in range(file_type.num_fields):
            f = file_type.field(i)
            fid = (f.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                by_fid[int(fid)] = i
            by_name[f.name] = i
        children = []
        n = len(arr)
        for lf in logical_dt.fields:
            md = lf.metadata or {}
            idx = by_fid.get(int(md[ID_KEY])) if ID_KEY in md else None
            if idx is None:
                idx = by_name.get(md.get(PHYSICAL_NAME_KEY, lf.name))
            if idx is None:
                idx = by_name.get(lf.name)
            if idx is None:
                children.append(pa.nulls(n, type=to_arrow_type(lf.dataType)))
            else:
                children.append(
                    _fid_align(arr.field(idx), file_type.field(idx).type, lf.dataType)
                )
        mask = arr.is_null() if arr.null_count else None
        # build with the TARGET fields (names + nullability) directly:
        # pyarrow refuses to cast a nullable child to non-nullable even
        # when no nulls exist, so from_arrays(fields=...) is the only
        # shape that satisfies a non-nullable logical nested field
        return pa.StructArray.from_arrays(children, fields=list(target), mask=mask)
    if isinstance(logical_dt, T.ArrayType) and (
        pa.types.is_list(file_type) or pa.types.is_large_list(file_type)
    ):
        values = _fid_align(arr.values, file_type.value_type, logical_dt.elementType)
        mask = arr.is_null() if arr.null_count else None
        return pa.ListArray.from_arrays(arr.offsets, values, type=target, mask=mask)
    if arr.type != target:
        arr = arr.cast(target)
    return arr


def _read_file_batches(
    partition: _FilePartition, schema: StructType
) -> Iterator["pa.RecordBatch"]:
    """Executor-side: read one parquet file, emit Arrow batches matching
    the table schema exactly — file columns cast, Hive partition
    columns materialized as constants, columns missing from older files
    (schema evolution) filled with typed nulls."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_type

    target = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType), True) for f in schema.fields]
    )
    deleted = None
    if partition.dv:
        import numpy as np

        from jodie_spark.tables.deletion_vectors import (
            parse_roaring_bitmap_array,
            read_dv_bytes,
        )

        deleted = np.asarray(
            parse_roaring_bitmap_array(
                read_dv_bytes(partition.table_path or "", partition.dv)
            ),
            dtype=np.int64,
        )
    pf = pq.ParquetFile(_open_parquet(partition.file_path))
    file_cols = set(pf.schema_arrow.names)
    nm = partition.name_map if getattr(partition, "name_map", None) else {}
    phys_of = {f.name: nm.get(f.name, f.name) for f in schema.fields}
    fid_map = getattr(partition, "field_ids", None)
    if fid_map:
        # column mapping mode=id: match parquet columns by FOOTER FIELD
        # ID — authoritative over names (foreign writers' column names
        # need not equal physicalName); physicalName stays the fallback
        # for files whose footers carry no ids
        by_fid: dict[int, str] = {}
        for fld in pf.schema_arrow:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                by_fid[int(fid)] = fld.name
        for lname, fid in fid_map.items():
            if fid in by_fid:
                phys_of[lname] = by_fid[fid]
    wanted = [phys_of[f.name] for f in schema.fields if phys_of[f.name] in file_cols]
    want_row_ids = any(f.name == "_row_id" for f in schema.fields)
    # materialized row-lineage columns (written by rewrites) override
    # the baseRowId arithmetic row-by-row
    mat_rid = partition.mat_rid if partition.mat_rid in file_cols else None
    mat_rcv = partition.mat_rcv if partition.mat_rcv in file_cols else None
    if want_row_ids:
        wanted += [c for c in (mat_rid, mat_rcv) if c]
    row_offset = 0
    for batch in pf.iter_batches(columns=wanted, batch_size=65536):
        idx = None
        if deleted is not None or want_row_ids:
            import numpy as np

            n_read = batch.num_rows
            # physical row positions — computed BEFORE the DV mask so
            # surviving rows keep their original file positions (the
            # positions both the DV and row tracking are defined over)
            idx = np.arange(row_offset, row_offset + n_read, dtype=np.int64)
            row_offset += n_read
            if deleted is not None:
                keep = ~np.isin(idx, deleted, assume_unique=True)
                if not keep.all():
                    batch = batch.filter(pa.array(keep))
                    idx = idx[keep]
        n = batch.num_rows
        arrays = []
        for f, arrow_field in zip(schema.fields, target):
            phys = phys_of.get(f.name, f.name)
            if phys in file_cols:
                fidx = batch.schema.get_field_index(phys)
                col = batch.column(fidx)
                if fid_map:
                    # mode=id: nested fields also resolve by footer id
                    col = _fid_align(col, batch.schema.field(fidx).type, f.dataType)
                elif col.type != arrow_field.type:
                    col = col.cast(arrow_field.type)
                arrays.append(col)
            elif f.name == "_row_id" and (
                partition.base_row_id is not None or mat_rid
            ):
                fresh = (
                    pa.array(partition.base_row_id + idx[:n], type=arrow_field.type)
                    if partition.base_row_id is not None
                    else pa.nulls(n, type=arrow_field.type)
                )
                if mat_rid:
                    mcol = batch.column(batch.schema.get_field_index(mat_rid))
                    if mcol.type != arrow_field.type:
                        mcol = mcol.cast(arrow_field.type)
                    import pyarrow.compute as pc

                    arrays.append(pc.coalesce(mcol, fresh))
                else:
                    arrays.append(fresh)
            elif f.name == "_row_commit_version" and (
                partition.row_commit_version is not None or mat_rcv
            ):
                dflt = (
                    pa.array([partition.row_commit_version] * n, type=arrow_field.type)
                    if partition.row_commit_version is not None
                    else pa.nulls(n, type=arrow_field.type)
                )
                if mat_rcv:
                    mcol = batch.column(batch.schema.get_field_index(mat_rcv))
                    if mcol.type != arrow_field.type:
                        mcol = mcol.cast(arrow_field.type)
                    import pyarrow.compute as pc

                    arrays.append(pc.coalesce(mcol, dflt))
                else:
                    arrays.append(dflt)
            elif phys in partition.partition_values:
                v = _parse_partition_value(
                    partition.partition_values[phys], f.dataType.typeName()
                )
                arrays.append(pa.array([v] * n, type=arrow_field.type))
            else:
                arrays.append(pa.nulls(n, type=arrow_field.type))
        yield pa.RecordBatch.from_arrays(arrays, schema=target)


def _filters_to_condition(
    filters: list[Filter], schema: StructType
) -> str | None:
    """Translate the simple single-column filters into the pruning
    condition language. Unsupported shapes are simply skipped — Spark
    re-applies every filter after the scan, so skipping is always safe.

    Timestamp gating (empirically pinned in tests): Spark 4.1 delivers
    TimestampType filter values as TZ-AWARE datetimes (session zone)
    and TimestampNTZ values naive. An aware value is normalized to UTC
    and emitted with its +00:00 offset (the pruning evaluator compares
    offset literals in UTC, matching UTC-normalized stats; sessions are
    pinned UTC). A NAIVE value is emitted only for TimestampNTZ columns
    — against a TimestampType column's UTC stats its wall time would be
    off by the session offset, so it is skipped."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    columns = {f.name for f in schema.fields}
    types = {f.name: f.dataType for f in schema.fields}
    conjs: list[str] = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1 or attr[0] not in columns:
            continue
        col = attr[0]
        if isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)):
            v = f.value
            if isinstance(v, str):
                if "'" in v:
                    continue
                lit = f"'{v}'"
            elif isinstance(v, _dt.datetime):
                if v.tzinfo is not None:
                    u = v.astimezone(_dt.timezone.utc)
                    lit = "'" + u.isoformat(sep=" ") + "'"
                elif isinstance(types.get(col), TimestampNTZType):
                    lit = "'" + v.isoformat(sep=" ") + "'"
                else:
                    continue  # naive value on a TimestampType column
            elif isinstance(v, _dt.date):
                lit = f"'{v.isoformat()}'"
            elif isinstance(v, bool) or not isinstance(v, (int, float)):
                continue
            else:
                lit = repr(v)
            op = {
                EqualTo: "=", GreaterThan: ">", GreaterThanOrEqual: ">=",
                LessThan: "<", LessThanOrEqual: "<=",
            }[type(f)]
            conjs.append(f"{col} {op} {lit}")
        elif isinstance(f, IsNull):
            conjs.append(f"{col} is null")
        elif isinstance(f, IsNotNull):
            conjs.append(f"{col} is not null")
        elif isinstance(f, In):
            lits = []
            for v in f.value:
                if isinstance(v, str):
                    if "'" in v:
                        lits = None
                        break
                    lits.append(f"'{v}'")
                elif isinstance(v, bool) or not isinstance(v, (int, float)):
                    lits = None
                    break
                else:
                    lits.append(repr(v))
            if lits:
                conjs.append(f"{col} in ({', '.join(lits)})")
    return " and ".join(conjs) if conjs else None


# ---------------------------------------------------------------------------
# batch reader
# ---------------------------------------------------------------------------


class JodieDeltaBatchReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.path = _opt_path(options)
        if not self.path:
            raise ValueError("jodie_delta requires a path: .load('/table/path')")
        self.schema = schema
        self.version = options.get("versionAsOf")
        if self.version is None and options.get("timestampAsOf") is not None:
            from jodie_spark.tables.log import DeltaLog

            import datetime as _dt

            ts = _dt.datetime.fromisoformat(options["timestampAsOf"])
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            self.version = DeltaLog(self.path).version_at_timestamp(
                int(ts.timestamp() * 1000)
            )
        # file-packing threshold override (tests / tuning); the default
        # keeps per-file tasks below 1000 active files
        bt = options.get("filesPerTaskThreshold")
        self._batch_threshold = int(bt) if bt is not None else None
        self._condition: str | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:  # noqa: F821
        self._condition = _filters_to_condition(list(filters), self.schema)
        # report every filter unsupported: we use them only to SKIP
        # files by stats, Spark still evaluates them row-level
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        from jodie_spark.tables.log import DeltaLog

        log = DeltaLog(self.path)
        snap = log.snapshot(int(self.version) if self.version is not None else None)
        # RENAMED column-mapped tables: the log's stats/partitionValues
        # keys are PHYSICAL names — evaluating a logical-name condition
        # against them can COLLIDE (a logical name equal to another
        # column's physical name reads the wrong stats) and mis-prune.
        # Same rule as DeltaTable._planning_condition: any rename ⇒ no
        # pruning at all (correct, just un-skipped).
        name_map, field_ids = _logical_physical_map(snap.metadata)
        if self._condition and name_map is None:
            cond = self._condition
            # generated-partition derivation on READS too (delta
            # OptimizeGeneratedColumn): a pushed base-column filter on
            # a day=CAST(ts AS DATE)-partitioned table prunes to the
            # matching partitions
            from jodie_spark.tables.pruning import (
                augment_with_generated_partitions,
            )

            try:
                meta_schema = StructType.fromJson(
                    json.loads(snap.metadata.get("schemaString") or "{}")
                )
                cond = augment_with_generated_partitions(
                    cond, meta_schema, snap.partition_columns
                )
            except Exception:
                pass  # derivation is an optimization, never a gate
            # columnar pre-mask + exact-evaluator survivors: a filtered
            # 1M-add scan plans without ever materializing 1M payload
            # dicts (pruning_arrow; result identical to prune_files)
            adds = snap._require_files().pruned_adds(
                cond, self.schema, snap.partition_columns
            )
        else:
            adds = None  # unfiltered: the columnar zero-dict build below
        from jodie_spark.tables.row_lineage import lineage_cols

        mat = lineage_cols(snap.configuration) or (None, None)
        # hot loop at 1M adds: resolve the filesystem ONCE (was a
        # registry lookup per file — 2.6 s of the 13 s plan), and for
        # the local facade the join+translate collapses to one string
        # concat (executor_path is identity there; relative adds never
        # escape the table root). Absolute/schemed adds (shallow clones)
        # and every non-local facade keep the full per-path translation.
        from jodie_spark.fs import LocalFileSystem, get_fs, path_scheme

        _fs = get_fs(self.path)
        _unquote = urllib.parse.unquote
        if isinstance(_fs, LocalFileSystem) and path_scheme(self.path) is None:
            _base = self.path.rstrip("/") + "/"

            def _fp_path(rel: str) -> str:
                if rel.startswith("/") or "://" in rel:
                    return _fs.executor_path(_fs.join(self.path, rel))
                return _base + rel
        else:

            def _fp_path(rel: str) -> str:
                return _fs.executor_path(_fs.join(self.path, rel))

        def make_fp(a: dict) -> _FilePartition:
            fp = _FilePartition(
                _fp_path(_unquote(a["path"])),
                a.get("partitionValues") or {},
                a.get("deletionVector"),
                self.path,
                a.get("baseRowId"),
                a.get("defaultRowCommitVersion"),
                mat[0],
                mat[1],
            )
            fp.name_map = name_map
            fp.field_ids = field_ids
            return fp

        if adds is not None:
            # beyond the threshold, pack many small files into one task —
            # a million-file table must not schedule a million Spark tasks
            return _pack_add_partitions(adds, make_fp, self._batch_threshold)

        # unfiltered scan: ZERO-DICT partition build — each needed child
        # column converts once (to_pylist / flat map decode) and the
        # loop constructs _FilePartitions straight from the parallel
        # lists. At 1M adds this is ~2x the dict-per-add path (the
        # payload dicts and their .get probes were half the plan cost),
        # and the snapshot's lazy dict view stays unmaterialized.
        n, (paths, pvs, sizes, dvs, brids, drcvs) = snap._require_files().column_lists(
            (
                "path",
                "partitionValues",
                "size",
                "deletionVector",
                "baseRowId",
                "defaultRowCommitVersion",
            )
        )
        parts: list[_FilePartition] = []
        for i in range(n):
            fp = _FilePartition(
                _fp_path(_unquote(paths[i])),
                pvs[i] or {},
                dvs[i],
                self.path,
                brids[i],
                drcvs[i],
                mat[0],
                mat[1],
            )
            fp.name_map = name_map
            fp.field_ids = field_ids
            parts.append(fp)
        return _pack_file_partitions(
            parts,
            [int(s or 0) for s in sizes],
            self._batch_threshold,
        )

    def read(self, partition: "_FilePartition | _FileBatchPartition"):
        yield from _read_packed(partition, self.schema)


# ---------------------------------------------------------------------------
# stream reader (Delta-source semantics: snapshot, then per-commit adds)
# ---------------------------------------------------------------------------


class _CdfFilePartition(InputPartition):
    """One change-bearing file of one commit: a ``cdc`` file (rows carry
    their own ``_change_type``), or a data file synthesized as all-
    ``insert`` / all-``delete`` rows (``operators.cdf.change_files``
    classifies them for this reader and the batch ``read_cdf``)."""

    def __init__(
        self,
        file_path: str,
        kind: str,  # 'cdc' | 'insert' | 'delete'
        version: int,
        ts_ms: int,
        partition_values: dict[str, str],
        table_path: str,
        dv: dict | None = None,
    ):
        self.file_path = file_path
        self.kind = kind
        self.version = version
        self.ts_ms = ts_ms
        self.partition_values = partition_values
        self.table_path = table_path
        self.dv = dv  # live deletion vector: DV'd rows are not changes
        self.name_map: dict[str, str] | None = None


CDF_COLS = ("_change_type", "_commit_version", "_commit_timestamp")


def _cdf_schema(table_schema: StructType) -> StructType:
    from pyspark.sql import types as T

    return StructType(
        [f for f in table_schema.fields]
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
            T.StructField("_commit_timestamp", T.TimestampType()),
        ]
    )


def _cdf_partitions(
    path: str, start_v: int, end_v: int, threshold: int | None = None
) -> "list[InputPartition]":
    """Driver-side: the change files of the commits in ``(start_v,
    end_v]`` (``operators.cdf.change_files``, which enforces CDF
    coverage the way delta-spark's CDCReader does) as file partitions."""
    from jodie_spark.operators.cdf import change_files
    from jodie_spark.tables.log import DeltaLog

    if start_v + 1 > end_v:
        return []
    log = DeltaLog(path)
    # physical names resolve against the END schema — renames move
    # logical names only, physical names are stable, and the reader's
    # output schema is the latest logical one
    name_map, field_ids = _logical_physical_map(log.table_info(end_v).metadata)
    out: list[_CdfFilePartition] = []
    sizes: list[int] = []
    for _, files in change_files(log, start_v, end_v):
        for f in files:
            part = _CdfFilePartition(
                _data_path(path, urllib.parse.unquote(f.path)),
                f.kind,
                f.version,
                f.ts_ms,
                f.partition_values,
                path,
                f.dv,
            )
            part.name_map = name_map
            part.field_ids = field_ids
            out.append(part)
            sizes.append(f.size)
    # a long replay (startingVersion=0 over a mature history) would
    # otherwise plan one task per change file — pack like the plain
    # readers (order preserved: _commit_version rides each row anyway)
    return _pack_file_partitions(out, sizes, threshold)


def _read_cdf_file_batches(
    partition: _CdfFilePartition, cdf_schema: StructType
) -> Iterator["pa.RecordBatch"]:
    """Executor-side: read one change-bearing file and emit Arrow
    batches in the CDF schema (table columns + _change_type /
    _commit_version / _commit_timestamp). For ``cdc`` files the
    per-row ``_change_type`` comes from the file itself; synthesized
    insert/delete files get it as a constant."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    data_fields = [f for f in cdf_schema.fields if f.name not in CDF_COLS]
    ct_field = next(f for f in cdf_schema.fields if f.name == "_change_type")
    read_fields = list(data_fields) + ([ct_field] if partition.kind == "cdc" else [])
    inner = StructType(read_fields)
    base = _FilePartition(
        partition.file_path,
        partition.partition_values,
        partition.dv,
        partition.table_path,
    )
    base.name_map = getattr(partition, "name_map", None)
    base.field_ids = getattr(partition, "field_ids", None)
    ver_t = to_arrow_type(cdf_schema["_commit_version"].dataType)
    ts_t = to_arrow_type(cdf_schema["_commit_timestamp"].dataType)
    ct_t = to_arrow_type(ct_field.dataType)
    target = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType), True) for f in cdf_schema.fields]
    )
    for batch in _read_file_batches(base, inner):
        n = batch.num_rows
        cols = list(batch.columns)
        if partition.kind == "cdc":
            ct = cols.pop()  # _change_type read from the file
        else:
            ct = pa.array([partition.kind] * n, type=ct_t)
        arrays = cols + [
            ct,
            pa.array([partition.version] * n, type=ver_t),
            pa.array([partition.ts_ms * 1000] * n, type=ts_t),
        ]
        yield pa.RecordBatch.from_arrays(arrays, schema=target)


class _VersionCursorStreamReader(DataSourceStreamReader):
    """Shared offset handling of the two ``jodie_delta`` stream readers.
    Offsets are commit versions ``{"version": v}``; the micro-batch
    ``(start, end]`` serves the commits after ``start`` up to ``end``.
    A subclass gives its default start offset, the files each commit
    serves (:meth:`_commit_files`) and the partition plan.

    ``maxFilesPerTrigger`` bounds how far ``latestOffset`` advances, at
    COMMIT granularity: a commit larger than the budget still ships
    whole. Python sources have no admission-control hook, so the reader
    keeps the budget walk's start itself: a cursor at the highest
    version any offset it returned or was handed (``initialOffset``,
    ``latestOffset``, ``partitions``, ``commit``) named. It never moves
    back, and a backwards ``partitions`` range raises, so the order
    Spark calls these in cannot re-serve a commit.

    Spark 4.1 calls ``latestOffset`` before ``initialOffset`` on a fresh
    query, and replays the checkpointed offset ``C`` as
    ``partitions(C, C)`` before it on a restart. Under
    ``Trigger.AvailableNow`` that first ``latestOffset`` is the run's
    target, so it is never bounded: the first micro-batch of a query
    takes every commit present, and bounding starts with the next one.
    A reader told its start by ``initialOffset`` first bounds from its
    first ``latestOffset`` on."""

    def __init__(self, options, schema: StructType):
        self.path = _opt_path(options)
        if not self.path:
            raise ValueError("jodie_delta requires a path: .load('/table/path')")
        self.schema = schema
        self.starting_version = options.get("startingVersion")
        self.starting_timestamp = options.get("startingTimestamp")
        mft = options.get("maxFilesPerTrigger")
        if mft is not None and int(mft) < 1:
            raise ValueError(f"Invalid maxFilesPerTrigger: {mft}")
        self.max_files = int(mft) if mft is not None else None
        self._pos: int | None = None  # highest version planned or served
        self._bounded = False  # latestOffset applies maxFilesPerTrigger

    def _advance(self, version: int) -> None:
        self._pos = version if self._pos is None else max(self._pos, version)

    def _default_offset(self, log) -> dict:
        raise NotImplementedError

    def _commit_files(self, log, start_v: int, end_v: int) -> Iterator[tuple[int, list]]:
        """``(v, files commit v serves)`` for each commit in ``(start_v,
        end_v]``, lazily: the one source of what a batch plans and what
        the budget counts."""
        raise NotImplementedError

    def _plan(self, log, start: dict, end_v: int) -> Sequence[InputPartition]:
        raise NotImplementedError

    def initialOffset(self) -> dict:
        from jodie_spark.operators.cdf import version_range
        from jodie_spark.tables.log import DeltaLog

        log = DeltaLog(self.path)
        start, _ = version_range(log, self.starting_version, self.starting_timestamp)
        offset = {"version": start - 1} if start is not None else self._default_offset(log)
        self._bounded = self._bounded or not offset.get("snapshot")
        self._advance(offset["version"])
        return offset

    def latestOffset(self) -> dict:
        from jodie_spark.tables.log import DeltaLog

        log = DeltaLog(self.path)
        latest = end_v = log.latest_version()
        if self.max_files is not None and self._bounded:
            budget, end_v = self.max_files, self._pos
            for v, files in self._commit_files(log, self._pos, latest):
                if len(files) > budget and end_v > self._pos:
                    break  # budget spent and we already advanced
                budget -= len(files)
                end_v = v
                if budget <= 0:
                    break
        self._bounded = True
        self._advance(end_v)
        return {"version": end_v}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from jodie_spark.tables.log import DeltaLog

        start_v, end_v = int(start["version"]), int(end["version"])
        if end_v < start_v:
            raise ValueError(
                f"jodie_delta stream: offset range ({start_v}, {end_v}] runs backwards"
            )
        parts = [] if end_v == start_v else self._plan(DeltaLog(self.path), start, end_v)
        self._advance(end_v)
        return parts

    def commit(self, end: dict) -> None:
        # log-backed source: nothing to clean up, only the cursor moves
        self._advance(int(end["version"]))


class JodieDeltaCdfStreamReader(_VersionCursorStreamReader):
    """Streaming change-data-feed source — the delta-spark
    ``readStream.option("readChangeFeed","true")`` equivalent. Each
    micro-batch delivers the change rows of the commits in ``(start,
    end]``; ``maxFilesPerTrigger`` counts change files (see
    :class:`_VersionCursorStreamReader`). With no ``startingVersion``
    the stream begins after the version current at start (new changes
    only, delta parity); pass ``startingVersion`` to replay history."""

    def _default_offset(self, log) -> dict:
        return {"version": log.latest_version()}

    def _commit_files(self, log, start_v: int, end_v: int) -> Iterator[tuple[int, list]]:
        from jodie_spark.operators.cdf import change_files

        return change_files(log, start_v, end_v)

    def _plan(self, log, start: dict, end_v: int) -> Sequence[InputPartition]:
        return _cdf_partitions(self.path, int(start["version"]), end_v)

    def read(self, partition: "_CdfFilePartition | _FileBatchPartition"):
        yield from _read_cdf_packed(partition, self.schema)


class JodieDeltaCdfBatchReader(DataSourceReader):
    """Batch CDF read through the datasource:
    ``spark.read.format("jodie_delta").option("readChangeFeed","true")
    .option("startingVersion", s).option("endingVersion", e)`` —
    same coverage rules as the streaming reader."""

    def __init__(self, options, schema: StructType):
        from jodie_spark.operators.cdf import version_range
        from jodie_spark.tables.log import DeltaLog

        self.path = _opt_path(options)
        self.schema = schema
        self.start_v, self.end_v = version_range(
            DeltaLog(self.path),
            options.get("startingVersion"),
            options.get("startingTimestamp"),
            options.get("endingVersion"),
            options.get("endingTimestamp"),
        )
        if self.start_v is None:
            raise ValueError(
                "readChangeFeed batch reads require startingVersion "
                "or startingTimestamp"
            )
        bt = options.get("filesPerTaskThreshold")
        self._batch_threshold = int(bt) if bt is not None else None

    def partitions(self) -> Sequence[InputPartition]:
        from jodie_spark.tables.log import DeltaLog

        end_v = (
            DeltaLog(self.path).latest_version() if self.end_v is None else self.end_v
        )
        return _cdf_partitions(
            self.path, self.start_v - 1, end_v, threshold=self._batch_threshold
        )

    def read(self, partition: "_CdfFilePartition | _FileBatchPartition"):
        yield from _read_cdf_packed(partition, self.schema)


class JodieDeltaStreamReader(_VersionCursorStreamReader):
    """Plain (non-CDF) streaming source over the native Delta log.

    Remove-handling options — delta-spark DeltaSource parity, each a
    distinct semantic (they used to alias here):

    - default: any dataChange remove fails the stream (append-only
      contract).
    - ``ignoreDeletes``: DELETE-ONLY commits (removes without
      dataChange adds, e.g. partition deletes) are skipped; a commit
      that removes AND adds (UPDATE/MERGE rewrite) still fails.
    - ``ignoreChanges``: rewrite commits serve their adds — downstream
      may see reprocessed rows, exactly delta's caveat.
    - ``skipChangeCommits``: any commit containing dataChange removes
      is skipped ENTIRELY (its adds are not served).

    ``maxFilesPerTrigger`` counts the adds a commit serves; offsets and
    the cursor are :class:`_VersionCursorStreamReader`'s. The default
    start is the full snapshot, served whole as the first batch."""

    def __init__(self, options, schema: StructType):
        super().__init__(options, schema)

        def _flag(name: str) -> bool:
            return str(options.get(name, "false")).lower() == "true"

        self.ignore_changes = _flag("ignoreChanges")
        self.ignore_deletes = _flag("ignoreDeletes")
        self.skip_change_commits = _flag("skipChangeCommits")

    def _default_offset(self, log) -> dict:
        # full-snapshot first batch: an explicit "snapshot" sentinel,
        # NOT a bare version number, because startingVersion=0 also
        # encodes as version -1 and must replay commit 0 through the
        # per-commit adds path, preserving the remove-detection error
        # that ignoreChanges gates
        return {"version": -1, "snapshot": True}

    def _commit_files(self, log, start_v: int, end_v: int) -> Iterator[tuple[int, list]]:
        for v in range(start_v + 1, end_v + 1):
            try:
                actions = log.read_actions(v)
            except FileNotFoundError:
                yield v, []
                continue
            removes = [
                a["remove"]
                for a in actions
                if a.get("remove") and a["remove"].get("dataChange", True)
            ]
            adds = [
                a["add"] for a in actions if a.get("add") and a["add"].get("dataChange", True)
            ]
            if removes:
                if self.skip_change_commits:
                    adds = []  # change commit skipped wholesale
                elif not self.ignore_changes and not (self.ignore_deletes and not adds):
                    raise RuntimeError(
                        f"jodie_delta stream: version {v} removed data file "
                        f"{removes[0]['path']}; streaming sources require "
                        "append-only history (ignoreDeletes tolerates "
                        "delete-only commits; ignoreChanges serves rewrites; "
                        "skipChangeCommits drops change commits entirely)"
                    )
            yield v, adds

    def _plan(self, log, start: dict, end_v: int) -> Sequence[InputPartition]:
        # Checkpoint back-compat: offsets persisted before the explicit
        # sentinel landed encode the default-start snapshot as a BARE
        # {"version": -1}. When no startingVersion/startingTimestamp is
        # set, a bare -1 can only mean "snapshot first" (the old
        # semantics), so honor it — otherwise a restart would replay
        # commits 0..latest per-commit and raise on historical removes.
        # With startingVersion=0 set, the options ARE present on
        # restart too, so the bare -1 correctly replays commit 0.
        legacy_snapshot = (
            int(start["version"]) == -1
            and "snapshot" not in start
            and self.starting_version is None
            and self.starting_timestamp is None
        )
        if start.get("snapshot") or legacy_snapshot:
            # projected/streamed like the batch reader: the initial
            # 1M-file micro-batch must not materialize 1M payload dicts
            adds = list(
                log.snapshot(end_v).iter_adds(
                    ("path", "partitionValues", "size", "deletionVector")
                )
            )
        else:
            adds = [
                a
                for _, served in self._commit_files(log, int(start["version"]), end_v)
                for a in served
            ]
        name_map, field_ids = _logical_physical_map(log.table_info(end_v).metadata)

        def make_fp(a: dict) -> _FilePartition:
            fp = _FilePartition(
                _data_path(self.path, urllib.parse.unquote(a["path"])),
                a.get("partitionValues") or {},
                a.get("deletionVector"),
                self.path,
            )
            fp.name_map = name_map
            fp.field_ids = field_ids
            return fp

        # the snapshot FIRST batch of a stream over a huge table hits
        # the same wall as the batch reader: pack files above the
        # threshold so a million-file initial batch is not a
        # million-task micro-batch (incremental batches are per-commit
        # adds, far below the threshold, and stay per-file)
        return _pack_add_partitions(adds, make_fp)

    def read(self, partition: "_FilePartition | _FileBatchPartition"):
        yield from _read_packed(partition, self.schema)


# ---------------------------------------------------------------------------
# writer (append / overwrite)
# ---------------------------------------------------------------------------


class _WroteFile(WriterCommitMessage):
    def __init__(self, rel_path: str, size: int, stats: str):
        self.rel_path = rel_path
        self.size = size
        self.stats = stats


def _write_partition_file(
    iterator, path: str, schema: StructType, not_null_cols: list[str] | None = None
) -> _WroteFile:
    """Executor-side: one task's rows → one parquet file in the table
    dir (uuid name, so never visible until the driver commits it).
    NOT NULL table columns are enforced here — a violating task fails
    the job before anything is committed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_type

    from jodie_spark.tables.stats import collect_file_stats

    target = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType), True) for f in schema.fields]
    )
    from jodie_spark.fs import get_fs, path_scheme

    name = f"part-{uuid.uuid4().hex}.parquet"
    if path_scheme(path) is None:
        abs_path = os.path.join(path, name)
        os.makedirs(path, exist_ok=True)
        sink = abs_path
    else:
        # real object store reached an executor: stream through the
        # facade-resolved pyarrow output (no local staging)
        _xfs = get_fs(path)
        abs_path = _xfs.join(path, name)
        _pafs, _inner = __import__("pyarrow.fs", fromlist=["fs"]).FileSystem.from_uri(
            abs_path
        )
        sink = _pafs.open_output_stream(_inner)
    # stream in bounded chunks: peak executor memory is one chunk, not
    # the whole task partition (matters when one task carries GBs)
    CHUNK = 65536
    writer = pq.ParquetWriter(sink, target)
    try:
        buf: list[tuple] = []

        def _flush(rows: list[tuple]) -> None:
            cols = list(zip(*rows)) if rows else [[] for _ in target]
            batch = pa.RecordBatch.from_arrays(
                [pa.array(list(c), type=f.type) for c, f in zip(cols, target)],
                schema=target,
            )
            for cname in not_null_cols or []:
                idx = batch.schema.get_field_index(cname)
                if idx >= 0 and batch.column(idx).null_count:
                    raise ValueError(
                        f"NOT NULL constraint violated for column: {cname}"
                    )
            writer.write_batch(batch)

        wrote_any = False
        for r in iterator:
            buf.append(tuple(r))
            if len(buf) >= CHUNK:
                _flush(buf)
                wrote_any = True
                buf = []
        if buf or not wrote_any:
            _flush(buf)  # empty flush keeps zero-row tasks well-formed
    finally:
        writer.close()
        # ParquetWriter never closes a caller-supplied sink; on object
        # stores the upload only finalizes on stream close, so the
        # footer-stat read below would otherwise see an incomplete or
        # absent object
        if sink is not abs_path and hasattr(sink, "close"):
            sink.close()
    stats = json.dumps(collect_file_stats(abs_path), separators=(",", ":"))
    size = (
        os.path.getsize(abs_path)
        if path_scheme(abs_path) is None
        else get_fs(abs_path).size(abs_path)
    )
    return _WroteFile(name, size, stats)




def _validate_as_given_write(path: str, schema: StructType) -> list[str]:
    """Plan-time validation shared by the batch + stream writers: both
    lay rows down as-given, so any shape they cannot write faithfully
    must refuse here (delta parity: schema mismatches are analysis
    errors). Returns the table's NOT NULL columns for executor-side
    enforcement."""
    from jodie_spark.tables.log import DeltaLog

    log = DeltaLog(path)
    if not log.exists():
        return []
    info = log.table_info()
    if info.partition_columns:
        raise ValueError(
            "the jodie_delta datasource writer does not produce "
            "Hive-partitioned layouts; append to partitioned table "
            f"{path} with jodie_spark.tables.table.write_delta"
        )
    from jodie_spark.tables.column_mapping import column_mapping_mode

    if column_mapping_mode(info.metadata) != "none":
        raise ValueError(
            "the jodie_delta datasource writer does not write physical "
            f"column names; append to column-mapped table {path} with "
            "jodie_spark.tables.table.write_delta"
        )
    from pyspark.sql.types import StructType as _St

    table_schema = _St.fromJson(json.loads(info.schema_string))
    table_cols = {f.name for f in table_schema.fields}
    in_cols = {f.name for f in schema.fields}
    extra = sorted(in_cols - table_cols)
    if extra:
        raise ValueError(
            f"A schema mismatch detected when writing to the Delta "
            f"table: data columns {extra} are not in the table schema "
            f"{sorted(table_cols)}"
        )
    missing = sorted(table_cols - in_cols)
    if missing:
        from jodie_spark.tables.identity import identity_columns_of
        from jodie_spark.tables.table import column_defaults_of, generated_columns_of

        fillable = (
            set(identity_columns_of(table_schema))
            | set(generated_columns_of(table_schema))
            | set(column_defaults_of(table_schema))
        )
        if set(missing) <= fillable:
            raise ValueError(
                f"columns {missing} are identity/generated/default-"
                "filled; the jodie_delta datasource writes rows "
                "as-given — append with "
                "jodie_spark.tables.table.write_delta to fill them"
            )
        raise ValueError(
            f"A schema mismatch detected when writing to the Delta "
            f"table: missing columns {missing}"
        )
    return [f.name for f in table_schema.fields if not f.nullable]


class _FilesWriter:
    """What the batch and the streaming writer share. Executors write
    parquet files straight into the table directory; the driver commits
    their adds atomically — the same write-then-commit shape every Delta
    writer uses, so a failed job leaves only unreferenced files (which
    ``abort`` deletes, or vacuum later), never a half-visible table."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        self.path = _opt_path(options)
        if not self.path:
            raise ValueError(
                "jodie_delta requires a path: .save('/table/path') or "
                ".start('/table/path')"
            )
        self.schema = schema
        self.overwrite = bool(overwrite)
        self.not_null_cols = _validate_as_given_write(self.path, schema)
        # resolved driver-side; executors write without the registry
        from jodie_spark.fs import get_fs

        self.data_path = get_fs(self.path).executor_path(self.path)

    def write(self, iterator) -> _WroteFile:
        return _write_partition_file(
            iterator, self.data_path, self.schema, self.not_null_cols
        )

    def _commit(self, messages, txn: dict[str, Any] | None = None) -> None:
        """One commit of the written files: their adds, the removes of
        every live file when overwriting, the ``metaData`` of a create
        (whose protocol ``DeltaLog.commit`` derives) and, for a stream
        batch, its ``txn`` action."""
        import time

        from jodie_spark.tables.log import REMOVE_COLUMNS, DeltaLog, remove_action

        log = DeltaLog(self.path)
        now_ms = int(time.time() * 1000)
        adds = [
            {
                "add": {
                    "path": m.rel_path,
                    "partitionValues": {},
                    "size": int(m.size),
                    "modificationTime": now_ms,
                    "dataChange": True,
                    "stats": m.stats,
                }
            }
            for m in messages
            if m is not None
        ]
        actions = ([{"txn": txn}] if txn else []) + adds
        if log.exists():
            snap = log.snapshot()
            log.check_write_allowed(snap, removes_data=self.overwrite)
            if self.overwrite:
                actions += [
                    remove_action(a, now_ms) for a in snap.iter_adds(REMOVE_COLUMNS)
                ]
            read_version = snap.version
            mode = "Overwrite" if self.overwrite else "Append"
        else:
            meta = {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(self.schema.jsonValue()),
                "partitionColumns": [],
                "configuration": {},
                "createdTime": now_ms,
            }
            actions.insert(0, {"metaData": meta})
            read_version, mode = -1, "ErrorIfExists"
        if txn is None:
            operation, params = "WRITE", {"mode": mode, "partitionBy": "[]"}
        else:
            operation = "STREAMING UPDATE"
            params = {
                "outputMode": "Complete" if self.overwrite else "Append",
                "queryId": txn["appId"],
            }
        log.commit(read_version, actions, operation, params, {"numFiles": str(len(adds))})

    def abort(self, messages, batchId: int | None = None) -> None:  # noqa: N803
        from jodie_spark.fs import get_fs

        _fs = get_fs(self.path)
        for m in messages:
            if m is not None:
                try:
                    _fs.remove(_fs.join(self.path, m.rel_path))
                except OSError:
                    pass


class JodieDeltaWriter(_FilesWriter, DataSourceWriter):
    """Batch writer: one commit per write job."""

    def commit(self, messages) -> None:
        self._commit(messages)


class JodieDeltaStreamWriter(_FilesWriter, DataSourceStreamWriter):
    """Streaming sink with Delta's exactly-once contract: every
    micro-batch commit carries a ``txn`` action ``(appId, version=
    batchId)``; a replayed batch (restart after commit, before
    checkpoint ack) sees its batchId already recorded and skips the
    commit, deleting its orphaned files. Set a stable ``appId`` option
    per logical stream. ``outputMode("complete")`` arrives as
    overwrite=True: each batch replaces the table contents
    (aggregation sinks)."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        super().__init__(options, schema, overwrite)
        self.app_id = options.get("appid", options.get("appId", "jodie_delta_stream"))

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        from jodie_spark.tables.log import DeltaLog

        log = DeltaLog(self.path)
        last = log.latest_txn_version(self.app_id) if log.exists() else None
        if last is not None and last >= batchId:
            # duplicate replay of an already-committed batch
            self.abort(messages, batchId)
            return
        self._commit(messages, {"appId": self.app_id, "version": int(batchId)})


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------


class JodieDeltaDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _cdf_requested(self) -> bool:
        return str(self.options.get("readChangeFeed", "false")).lower() == "true"

    def _row_ids_requested(self) -> bool:
        return str(self.options.get("withRowIds", "false")).lower() == "true"

    def schema(self) -> StructType:
        from pyspark.sql import types as T

        from jodie_spark.tables.log import DeltaLog, held_features

        path = _opt_path(self.options)
        if not path:
            raise ValueError("jodie_delta requires a path: .load('/table/path')")
        log = DeltaLog(path)
        # time travel pins the SCHEMA too (delta parity): a version
        # before a rename/drop must surface that version's columns
        version = self.options.get("versionAsOf")
        if version is None and self.options.get("timestampAsOf") is not None:
            import datetime as _dt

            ts = _dt.datetime.fromisoformat(self.options["timestampAsOf"])
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            version = log.version_at_timestamp(int(ts.timestamp() * 1000))
        info = log.table_info(int(version) if version is not None else None)
        base = StructType.fromJson(json.loads(info.schema_string))
        if "variantType" in held_features(info.protocol)[1]:
            raise ValueError(
                "the jodie_delta datasource reads data files with pyarrow, "
                "which cannot decode the VARIANT parquet logical type; read "
                f"variant table {path} with DeltaTable.forPath(...).toDF()"
            )
        if self._cdf_requested():
            return _cdf_schema(base)
        if self._row_ids_requested():
            return StructType(
                list(base.fields)
                + [
                    T.StructField("_row_id", T.LongType()),
                    T.StructField("_row_commit_version", T.LongType()),
                ]
            )
        return base

    def reader(self, schema: StructType) -> DataSourceReader:
        if self._cdf_requested():
            return JodieDeltaCdfBatchReader(self.options, schema)
        return JodieDeltaBatchReader(self.options, schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        if self._cdf_requested():
            return JodieDeltaCdfStreamReader(self.options, schema)
        return JodieDeltaStreamReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return JodieDeltaWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return JodieDeltaStreamWriter(self.options, schema, overwrite)
