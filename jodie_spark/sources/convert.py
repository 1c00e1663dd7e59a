"""Convert an existing parquet directory into a Delta table in place —
no data rewrite, just a version-0 commit describing the current files.

The 100 TB onboarding path: rewriting a petabyte-scale parquet lake to
create a log is a non-starter; conversion is O(#files) footer reads
(thread-pooled) plus one commit. Matches the semantics of Delta's
``CONVERT TO DELTA`` for Hive-layout parquet directories.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from jodie_spark.errors import JodieValidationError
from jodie_spark.tables.log import DeltaLog
from jodie_spark.tables.stats import collect_file_stats
from jodie_spark.tables.table import DeltaTable
from jodie_spark.tables.writer import _parse_partition_dirs, write_metrics


def convert_to_delta(
    spark: SparkSession,
    path: str,
    partition_columns: list[str] | None = None,
) -> DeltaTable:
    """Create a Delta log over the parquet files already under ``path``.

    ``partition_columns`` must name the Hive-style directory levels
    (``col=value``) if the layout is partitioned; values are parsed from
    the directory names exactly as the writer lays them out.
    """
    path = os.path.abspath(path)
    log = DeltaLog(path)
    if log.exists():
        raise JodieValidationError(f"{path} is already a Delta table")
    partition_columns = list(partition_columns or [])

    files: list[tuple[str, str]] = []  # (rel_path, rel_dir)
    for root, _dirs, names in os.walk(path):
        if DeltaLog(path).log_path in root:
            continue
        for name in names:
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            rel_dir = os.path.relpath(root, path)
            rel_path = name if rel_dir == "." else f"{rel_dir.replace(os.sep, '/')}/{name}"
            files.append((rel_path, rel_dir))
    if not files:
        raise JodieValidationError(f"no parquet files found under {path}")

    with ThreadPoolExecutor(max_workers=min(32, max(4, len(files)))) as pool:
        stats_list = list(
            pool.map(lambda f: collect_file_stats(os.path.join(path, f[0])), files)
        )

    adds = []
    for (rel_path, rel_dir), stats in zip(files, stats_list):
        pv = _parse_partition_dirs(rel_dir)
        if sorted(pv.keys()) != sorted(partition_columns):
            raise JodieValidationError(
                f"file {rel_path} has partition dirs {sorted(pv)} but "
                f"partition_columns={sorted(partition_columns)}"
            )
        full = os.path.join(path, rel_path)
        adds.append(
            {
                # add.path is percent-encoded per the Delta protocol
                "path": urllib.parse.quote(rel_path, safe="/="),
                "partitionValues": pv,
                "size": os.path.getsize(full),
                "modificationTime": int(os.path.getmtime(full) * 1000),
                "dataChange": True,
                "stats": json.dumps(stats, separators=(",", ":")),
            }
        )

    # schema: data columns from the files + partition columns from dirs
    # (partition values are directory-encoded strings; type them as the
    # reader will reconstruct them)
    sample = spark.read.parquet(os.path.join(path, files[0][0]))
    from pyspark.sql import types as T

    fields = list(sample.schema.fields)
    for c in partition_columns:
        fields.append(T.StructField(c, T.StringType()))
    schema = T.StructType(fields)

    meta = {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema.json(),
        "partitionColumns": partition_columns,
        "configuration": {},
        "createdTime": int(time.time() * 1000),
    }
    actions = [{"metaData": meta}] + [{"add": a} for a in adds]
    log.commit(-1, actions, "CONVERT", {"numFiles": str(len(adds))}, write_metrics(adds))
    return DeltaTable.forPath(spark, path)
