"""Spark-side add-files DataFrame + file-distribution / shuffle-file
analytics.

Parity: reference DeltaHelpers.scala:41-140, 197-219 — rebuilt on the
public log format instead of Delta's internal
``Snapshot.filesWithStatsForScan`` / ``OptimisticTransaction.filterFiles``.

Scale design (the reason this module exists): the log is read by
*Spark*, not driver Python — checkpoint parquet + JSON tail via
``spark.read``, reconciled with a window over path — so a
million-file table's metadata is a distributed dataset, exactly how
Delta evaluates data skipping on large tables. File skipping is a
``filter()`` with an Arrow UDF (:func:`skipping_keep`) that runs the
driver planner's own kernel in the tasks, over just the
``partitionValues`` and ``stats`` columns; the driver never
materializes the file list.
"""

from __future__ import annotations

from typing import Any

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jodie_spark.tables.log import DeltaLog, commit_file_name
from jodie_spark.tables.pruning import classify_conjunct, split_conjuncts
from jodie_spark.tables.pruning_arrow import exact_keep_mask
from jodie_spark.tables.table import DeltaTable

# output column names — parity: reference delta/DeltaConstants.scala:5-31
PERCENTILE_COL = "Percentile[10th, 25th, Median, 75th, 90th, 95th]"
SIZE_DF_COLUMNS = [
    "partitionValues", "num_of_parquet_files", "mean_size_of_files",
    "stddev", "min_file_size", "max_file_size", PERCENTILE_COL,
]
NUM_RECORDS_DF_COLUMNS = [
    "partitionValues", "num_of_parquet_files", "mean_num_records_in_files",
    "stddev", "min_num_records", "max_num_records", PERCENTILE_COL,
]
OVERALL = "OVERALL RESOLVED CONDITION =>"
MIN_MAX = "GREATER THAN / LESS THAN PART =>"
EQUALS = "EQUALS/EQUALS NULL SAFE PART =>"
LEFT_OVER = "LEFT OVER PART =>"
UNRESOLVED = "UNRESOLVED PART =>"
TOTAL_NUM_FILES = "TOTAL_NUM_FILES_IN_DELTA_TABLE =>"
UNRESOLVED_COLS = "UNRESOLVED_COLUMNS =>"

_DV_SCHEMA = T.StructType(
    [
        T.StructField("storageType", T.StringType()),
        T.StructField("pathOrInlineDv", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("sizeInBytes", T.IntegerType()),
        T.StructField("cardinality", T.LongType()),
    ]
)
_ADD_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
        T.StructField("size", T.LongType()),
        T.StructField("modificationTime", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
        T.StructField("stats", T.StringType()),
        # optional protocol fields that MUST survive state round-trips:
        # losing a DV resurrects deleted rows; losing baseRowId breaks
        # row tracking; losing tags breaks incremental clustering
        T.StructField("deletionVector", _DV_SCHEMA),
        T.StructField("baseRowId", T.LongType()),
        T.StructField("defaultRowCommitVersion", T.LongType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ]
)
_REMOVE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("deletionTimestamp", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
        T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
        T.StructField("size", T.LongType()),
        T.StructField("deletionVector", _DV_SCHEMA),
    ]
)
_ACTION_SCHEMA = T.StructType(
    [
        T.StructField("add", _ADD_SCHEMA),
        T.StructField("remove", _REMOVE_SCHEMA),
    ]
)


def _latest_actions_df(
    spark: SparkSession, path: str, max_version: int | None = None
) -> DataFrame:
    """Newest action per file path as ``[add, remove]`` structs —
    checkpoint parquet (single- or multi-part) + JSON tail, all read by
    Spark. The reconciliation (adds survive, removes become
    tombstones) is a window over path, exactly how Delta reconstructs
    state distributed."""
    log = DeltaLog(path)
    latest = log.latest_version() if max_version is None else int(max_version)
    checkpoints = [c for c in log.list_checkpoint_versions() if c <= latest]
    base = max(checkpoints) if checkpoints else None

    sources: list[DataFrame] = []
    if base is not None:
        cp_files = log.checkpoint_part_files(base)
        # a V2 checkpoint's JSON manifest can't ride the parquet scan;
        # its (rare) add/remove actions are unioned driver-side below —
        # sidecars and parquet manifests all go through one merged scan
        pq_files = [
            log._fs.spark_path(p) for p in cp_files if p.endswith(".parquet")
        ]
        json_manifest_actions = [
            a
            for p in cp_files
            if p.endswith(".json")
            for a in log._read_manifest_actions(p)
            if a.get("add") or a.get("remove")
        ]
        cp = (
            spark.read.option("mergeSchema", "true").parquet(*pq_files)
            if pq_files
            else None
        )

        # project subfields explicitly — checkpoint structs carry extra
        # fields and struct casts require matching arity. Externally
        # written checkpoints may omit optional subfields (remove.size,
        # remove.partitionValues are optional in the protocol) or whole
        # top-level columns (V2 sidecars carry only add/remove), so
        # missing ones become typed nulls instead of AnalysisExceptions.
        def sub(parent: str, name: str, dtype: T.DataType) -> Column:
            present = False
            if parent in cp.columns:
                parent_type = cp.schema[parent].dataType
                present = isinstance(parent_type, T.StructType) and name in parent_type.names
            col = F.col(f"{parent}.{name}") if present else F.lit(None)
            return col.cast(dtype).alias(name)

        str_map = T.MapType(T.StringType(), T.StringType())

        def dv_struct(parent: str) -> Column:
            # nested optional struct: project subfield-by-subfield so an
            # external checkpoint's wider/narrower DV struct still reads
            parent_ok = (
                parent in cp.columns
                and isinstance(cp.schema[parent].dataType, T.StructType)
                and "deletionVector" in cp.schema[parent].dataType.names
            )
            if not parent_ok:
                return F.lit(None).cast(_DV_SCHEMA).alias("deletionVector")
            dvt = cp.schema[parent].dataType["deletionVector"].dataType

            def dsub(name: str, dtype: T.DataType) -> Column:
                col = (
                    F.col(f"{parent}.deletionVector.{name}")
                    if isinstance(dvt, T.StructType) and name in dvt.names
                    else F.lit(None)
                )
                return col.cast(dtype).alias(name)

            inner = F.struct(*[dsub(f.name, f.dataType) for f in _DV_SCHEMA.fields])
            return F.when(
                F.col(f"{parent}.deletionVector").isNotNull(), inner
            ).alias("deletionVector")

        add_struct = F.struct(
            sub("add", "path", T.StringType()),
            sub("add", "partitionValues", str_map),
            sub("add", "size", T.LongType()),
            sub("add", "modificationTime", T.LongType()),
            sub("add", "dataChange", T.BooleanType()),
            sub("add", "stats", T.StringType()),
            dv_struct("add"),
            sub("add", "baseRowId", T.LongType()),
            sub("add", "defaultRowCommitVersion", T.LongType()),
            sub("add", "tags", str_map),
        )
        remove_struct = F.struct(
            sub("remove", "path", T.StringType()),
            sub("remove", "deletionTimestamp", T.LongType()),
            sub("remove", "dataChange", T.BooleanType()),
            sub("remove", "partitionValues", str_map),
            sub("remove", "size", T.LongType()),
            dv_struct("remove"),
        )
        if cp is not None:
            has_add = "add" in cp.columns
            has_remove = "remove" in cp.columns
            sources.append(
                cp.select(
                    F.lit(base).alias("version"),
                    (
                        F.when(F.col("add").isNotNull(), add_struct)
                        if has_add
                        else F.lit(None).cast(_ACTION_SCHEMA["add"].dataType)
                    ).alias("add"),
                    (
                        F.when(F.col("remove").isNotNull(), remove_struct)
                        if has_remove
                        else F.lit(None).cast(_ACTION_SCHEMA["remove"].dataType)
                    ).alias("remove"),
                )
            )
        if json_manifest_actions:
            rows = [
                (base, a.get("add"), a.get("remove")) for a in json_manifest_actions
            ]
            sources.append(
                spark.createDataFrame(
                    rows,
                    T.StructType(
                        [T.StructField("version", T.LongType())]
                        + list(_ACTION_SCHEMA.fields)
                    ),
                ).select("version", "add", "remove")
            )
    tail = [
        v for v in log.list_commit_versions()
        if (base is None or v > base) and v <= latest
    ]
    if tail:
        tail_paths = [
            log._fs.spark_path(log._fs.join(log.log_path, commit_file_name(v)))
            for v in tail
        ]
        raw = spark.read.schema(_ACTION_SCHEMA).json(tail_paths)
        sources.append(
            raw.withColumn(
                "version",
                F.regexp_extract(F.input_file_name(), r"(\d+)\.json", 1).cast("long"),
            ).select("version", "add", "remove")
        )
    if not sources:
        return spark.createDataFrame([], _ACTION_SCHEMA)

    actions = sources[0]
    for s in sources[1:]:
        actions = actions.unionByName(s)
    actions = actions.filter(F.col("add").isNotNull() | F.col("remove").isNotNull())
    actions = actions.withColumn(
        "__path__", F.coalesce(F.col("add.path"), F.col("remove.path"))
    )
    # same-version tie-break: a MoR rewrite commits remove(path) AND
    # add(path + deletionVector) in ONE version — the add is the final
    # state (protocol reconciliation); letting the remove win drops the
    # file from Spark-side state entirely (checkpoints lose it, DML
    # planning skips it)
    w = Window.partitionBy("__path__").orderBy(
        F.col("version").desc(), F.col("add").isNotNull().cast("int").desc()
    )
    return (
        actions.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("add", "remove")
    )


def files_df(spark: SparkSession, path: str) -> DataFrame:
    """Active add-files of the latest snapshot as a Spark DataFrame:
    ``[path, partitionValues, size, modificationTime, stats,
    deletionVector, baseRowId, defaultRowCommitVersion, tags]``.

    The protocol fields ride along so Spark-side DML planning never
    drops a candidate's DV descriptor (which would resurrect deleted
    rows in a CoW rewrite) or its row-tracking lineage; Catalyst prunes
    them out of plans that don't touch them."""
    return (
        _latest_actions_df(spark, path)
        .filter(F.col("add").isNotNull())
        .select(
            "add.path",
            "add.partitionValues",
            "add.size",
            "add.modificationTime",
            "add.stats",
            "add.deletionVector",
            "add.baseRowId",
            "add.defaultRowCommitVersion",
            "add.tags",
        )
    )


def write_checkpoint_spark(
    spark: SparkSession, path: str, version: int | None = None
) -> int:
    """Distributed checkpoint write: state reconstruction AND parquet
    encoding run in Spark, so driver memory stays bounded at any table
    size. ``DeltaLog.write_checkpoint`` picks this writer when a replay
    would not fit on the driver, or when called with ``spark=<session>``.

    The add/remove state lands in ``ceil(n/500k)`` Spark-written parts.
    Classic layout: the parts plus one driver-encoded metaData/protocol/
    domainMetadata part, under Delta's multi-part naming
    (``<v>.checkpoint.<i>.<n>.parquet``). V2 layout (the table's
    checkpoint policy): the parts become sidecars and the small actions
    go to the manifest. Both publish through
    ``DeltaLog._publish_checkpoint``, the driver writer's step."""
    import uuid as _uuid

    from jodie_spark.tables.log import (
        _CHECKPOINT_SCHEMA,
        _CP_ACTIONS_PER_PART,
        _actions_table,
        _checkpoint_small_actions,
        _writes_v2_checkpoints,
    )

    log = DeltaLog(path)
    target = log.latest_version() if version is None else int(version)
    info = log.table_info(target)

    # checkpointed adds carry dataChange=false (they describe state, not
    # change); un-expired tombstones must survive (protocol requirement —
    # or vacuum could never delete pre-checkpoint removes)
    add_struct = F.struct(
        F.col("add.path").alias("path"),
        F.col("add.partitionValues").alias("partitionValues"),
        F.col("add.size").alias("size"),
        F.col("add.modificationTime").alias("modificationTime"),
        F.lit(False).alias("dataChange"),
        F.col("add.stats").alias("stats"),
        F.col("add.deletionVector").alias("deletionVector"),
        F.col("add.baseRowId").alias("baseRowId"),
        F.col("add.defaultRowCommitVersion").alias("defaultRowCommitVersion"),
        F.col("add.tags").alias("tags"),
    )
    out = _latest_actions_df(spark, path, max_version=target).select(
        F.when(F.col("add").isNotNull(), add_struct).alias("add"), F.col("remove")
    )
    n_actions = out.count()
    n_parts = max(1, -(-n_actions // _CP_ACTIONS_PER_PART))
    small = _checkpoint_small_actions(
        info.protocol, info.metadata, log.all_domain_metadata(target).values()
    )

    fs = log._fs
    stage = fs.join(log.table_path, f"_checkpoint_stage_{_uuid.uuid4().hex}")
    try:
        out.repartition(n_parts).write.parquet(fs.spark_path(stage), mode="overwrite")
        parts: list[Any] = sorted(
            fs.join(stage, n)
            for n in fs.listdir(stage)
            if n.startswith("part-") and n.endswith(".parquet")
        )
        if _writes_v2_checkpoints(info):
            log._publish_checkpoint(target, parts, n_actions, small)
        else:
            meta_part = _actions_table(_CHECKPOINT_SCHEMA, small)
            log._publish_checkpoint(
                target, parts + [meta_part], n_actions + meta_part.num_rows
            )
    finally:
        fs.rmtree(stage)
    return target


def _stats_schema(table_schema: T.StructType) -> T.StructType:
    """Typed schema for the per-file stats JSON — min/max values typed as
    their table columns, for outputs that expose parsed stats."""
    leaf = [f for f in table_schema.fields if not isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType))]
    mm = T.StructType([T.StructField(f.name, f.dataType) for f in leaf])
    nc = T.StructType([T.StructField(f.name, T.LongType()) for f in leaf])
    return T.StructType(
        [
            T.StructField("numRecords", T.LongType()),
            T.StructField("minValues", mm),
            T.StructField("maxValues", mm),
            T.StructField("nullCount", nc),
        ]
    )


def skipping_keep(
    condition: str, schema: T.StructType, partition_columns: list[str]
) -> Column:
    """Boolean Column over ``files_df`` rows: True when the file may hold
    rows matching ``condition``. Spark tasks evaluate it with the same
    kernel the driver planner runs (``pruning_arrow.exact_keep_mask``),
    as an Arrow scalar UDF, so only ``partitionValues`` and ``stats``
    cross to Python — one skipping proof whichever side plans."""

    def keep(partition_values, stats):
        return exact_keep_mask(
            partition_values, stats, condition, schema, partition_columns
        )

    # real annotation objects: `from __future__ import annotations`
    # stringifies inline hints, which arrow_udf cannot infer
    keep.__annotations__ = {
        "partition_values": pa.Array, "stats": pa.Array, "return": pa.Array,
    }
    return F.arrow_udf(keep, T.BooleanType())(F.col("partitionValues"), F.col("stats"))


def delta_file_stats(
    spark: SparkSession, path: str, condition: str | None = None
) -> DataFrame:
    """files_df + typed ``stats`` struct, optionally filtered to the
    files a scan with ``condition`` would read.
    Parity: DeltaHelpers.scala:212-219 (deltaFileStats)."""
    table = DeltaTable.forPath(spark, path)
    snap = table.snapshot()
    schema = table.schema(snap)
    fdf = files_df(spark, path)
    if condition:
        fdf = fdf.filter(skipping_keep(condition, schema, snap.partition_columns))
    return fdf.select(
        "path", "partitionValues", "size", "modificationTime",
        F.from_json("stats", _stats_schema(schema)).alias("stats"),
    )


def _all_partition_stats(filtered: DataFrame, agg_col: Column, names: list[str]) -> DataFrame:
    """groupBy partition, agg count/mean/stddev/min/max/percentiles.
    Parity: DeltaHelpers.scala:197-210 (getAllPartitionStats)."""
    return (
        filtered.groupBy(F.map_entries(F.col("partitionValues")))
        .agg(
            F.count(agg_col),
            F.mean(agg_col),
            F.stddev(agg_col),
            F.min(agg_col),
            F.max(agg_col),
            F.percentile_approx(
                agg_col, [0.1, 0.25, 0.50, 0.75, 0.90, 0.95], 2147483647
            ),
        )
        .toDF(*names)
    )


def delta_file_size_distribution(
    spark: SparkSession, path: str, condition: str | None = None
) -> DataFrame:
    """Per-partition file-size stats in bytes.
    Parity: DeltaHelpers.scala:54-55."""
    return _all_partition_stats(
        delta_file_stats(spark, path, condition), F.col("size"), SIZE_DF_COLUMNS
    )


def delta_file_size_distribution_in_mb(
    spark: SparkSession, path: str, condition: str | None = None
) -> DataFrame:
    """Per-partition file-size stats in MiB.
    Parity: DeltaHelpers.scala:41-44."""
    stats = delta_file_stats(spark, path, condition).withColumn(
        "size_in_mb", F.col("size") / (1024 * 1024)
    )
    return _all_partition_stats(stats, F.col("size_in_mb"), SIZE_DF_COLUMNS)


def delta_num_record_distribution(
    spark: SparkSession, path: str, condition: str | None = None
) -> DataFrame:
    """Per-partition records-per-file stats.
    Parity: DeltaHelpers.scala:74-75."""
    return _all_partition_stats(
        delta_file_stats(spark, path, condition),
        F.col("stats.numRecords"),
        NUM_RECORDS_DF_COLUMNS,
    )


# ---------------------------------------------------------------------------
# shuffle-file estimation (reference DeltaHelpers.scala:109-140)
# ---------------------------------------------------------------------------

def _classify_condition(
    condition: str, columns: list[str]
) -> tuple[dict[str, list[str]], list[str]]:
    """Split + classify conjuncts into the reference's four classes."""
    classes: dict[str, list[str]] = {"overall": [], "minmax": [], "equality": [], "other": []}
    unresolved_cols: list[str] = []
    for raw in split_conjuncts(condition):
        cj = classify_conjunct(raw, columns)
        if cj.kind == "unresolved":
            unresolved_cols.extend(
                [r for r in cj.references if "." in r or r not in columns]
            )
            continue
        classes["overall"].append(raw)
        if cj.kind == "minmax":
            classes["minmax"].append(raw)
        elif cj.kind == "equality":
            classes["equality"].append(raw)
        else:
            classes["other"].append(raw)
    return classes, unresolved_cols


def _class_keep(
    parts: list[str], schema: T.StructType, partition_columns: list[str]
) -> Column:
    """Keep column for one predicate class; filterFiles(Nil) keeps
    every file."""
    if not parts:
        return F.lit(True)
    return skipping_keep(" and ".join(parts), schema, partition_columns)


def _fmt(parts: list[str]) -> str:
    return " and ".join(f"({p})" for p in parts) if parts else "Empty"


def get_num_shuffle_files(
    spark: SparkSession, path: str, condition: str
) -> dict[str, Any]:
    """#files surviving data skipping for the condition, broken down by
    predicate class. Metadata-only — never reads table data.
    Parity: DeltaHelpers.scala:109-126 (keys match DeltaConstants)."""
    table = DeltaTable.forPath(spark, path)
    snap = table.snapshot()
    schema = table.schema(snap)
    classes, unresolved_cols = _classify_condition(
        condition, [f.name for f in schema.fields]
    )

    # one aggregation: every class's count in one pass over files_df
    row = files_df(spark, path).agg(
        F.count(F.lit(1)),
        *(
            F.count_if(_class_keep(classes[c], schema, snap.partition_columns))
            for c in ("overall", "minmax", "equality", "other")
        ),
    ).collect()[0]
    total, overall, minmax, equality, other = (int(v) for v in row)
    return {
        f"{OVERALL} [ {_fmt(classes['overall'])} ]": overall,
        f"{MIN_MAX} [ {_fmt(classes['minmax'])} ]": minmax,
        f"{EQUALS} [ {_fmt(classes['equality'])} ]": equality,
        f"{LEFT_OVER} [ {_fmt(classes['other'])} ]": other,
        f"{UNRESOLVED} [ Empty ]": total,  # unresolved predicates can't skip
        TOTAL_NUM_FILES: total,
        UNRESOLVED_COLS: unresolved_cols,
    }


def get_shuffle_file_metadata(
    spark: SparkSession, path: str, condition: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, list[str]]:
    """Same split as :func:`get_num_shuffle_files` but returns the
    surviving-file DataFrames per class plus the full stats DF.
    Parity: DeltaHelpers.scala:128-140 (DataFrames instead of
    Seq[AddFile] — same content, queryable)."""
    table = DeltaTable.forPath(spark, path)
    snap = table.snapshot()
    schema = table.schema(snap)
    classes, unresolved_cols = _classify_condition(
        condition, [f.name for f in schema.fields]
    )
    fdf = files_df(spark, path)

    def files_for(parts: list[str]) -> DataFrame:
        return fdf.filter(_class_keep(parts, schema, snap.partition_columns))

    return (
        files_for(classes["overall"]),
        files_for(classes["minmax"]),
        files_for(classes["equality"]),
        files_for(classes["other"]),
        fdf,  # unresolved predicates keep all files
        fdf,
        unresolved_cols,
    )
