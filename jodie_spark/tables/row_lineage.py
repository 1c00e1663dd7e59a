"""Row-tracking lineage preservation for file-rewriting operations.

The Delta ``rowTracking`` feature guarantees each row a stable
``_row_id`` / ``_row_commit_version``. Fresh rows get them implicitly
(``baseRowId`` + physical row index / ``defaultRowCommitVersion`` on
the add action), but any operation that REWRITES files (OPTIMIZE, CoW
DELETE/UPDATE/MERGE, REORG PURGE) moves rows to new physical positions
— so the spec requires writers to MATERIALIZE the ids into the
rewritten files, under per-table column names recorded in the table
configuration (``delta.rowTracking.materializedRowIdColumnName`` /
``...materializedRowCommitVersionColumnName``). Readers then resolve:

    _row_id             = coalesce(materialized col, baseRowId + row_index)
    _row_commit_version = coalesce(materialized col, defaultRowCommitVersion)

(Delta PROTOCOL.md "Row Tracking"; delta-spark's RowId/RowTracking
classes implement the same resolution.)

Scale shape: the lineage read is ONE parquet scan of the rewrite
candidates with ``_metadata.file_path/row_index`` plus a broadcast
join against the per-file (baseRowId, defaultRowCommitVersion) map —
driver work is bounded by the candidate-file count (already collected
for planning), never by row count; DV masks decode executor-side.
"""

from __future__ import annotations

import os
import urllib.parse
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jodie_spark.tables.gateway import select_expr

MAT_RID_PROP = "delta.rowTracking.materializedRowIdColumnName"
MAT_RCV_PROP = "delta.rowTracking.materializedRowCommitVersionColumnName"

# internal (pre-write) lineage column names used by the DML rewrites;
# renamed to the table's materialized names just before the file write
LIN_RID = "__lineage_rid__"
LIN_RCV = "__lineage_rcv__"


def fresh_materialized_names() -> tuple[str, str]:
    """Per-table unique physical column names (same shape delta-spark
    assigns: a uuid suffix so they can never collide with user columns,
    including ones added later)."""
    tag = uuid.uuid4().hex[:12]
    return f"_row-id-col-{tag}", f"_row-commit-version-col-{tag}"


def lineage_cols(configuration: dict[str, str] | None) -> tuple[str, str] | None:
    """(row-id col, commit-version col) when the table has row tracking
    enabled AND materialized column names assigned; else None."""
    conf = configuration or {}
    from jodie_spark.tables.log import ROW_TRACKING_PROP

    if str(conf.get(ROW_TRACKING_PROP, "false")).lower() != "true":
        return None
    rid = conf.get(MAT_RID_PROP)
    rcv = conf.get(MAT_RCV_PROP)
    if not rid or not rcv:
        return None
    return rid, rcv


def ensure_lineage_metadata(snap) -> tuple[tuple[str, str] | None, dict | None]:
    """For a rewrite commit on a row-tracking table: the materialized
    column names, plus a metaData action assigning them when the table
    predates this engine's materialization support (the action rides in
    the same commit as the rewrite)."""
    conf = snap.configuration or {}
    from jodie_spark.tables.log import ROW_TRACKING_PROP

    if str(conf.get(ROW_TRACKING_PROP, "false")).lower() != "true":
        return None, None
    cols = lineage_cols(conf)
    if cols is not None:
        return cols, None
    rid, rcv = fresh_materialized_names()
    meta = dict(snap.metadata)
    meta["configuration"] = {
        **conf,
        MAT_RID_PROP: rid,
        MAT_RCV_PROP: rcv,
    }
    return (rid, rcv), {"metaData": meta}


def read_candidates_with_lineage(
    spark: SparkSession,
    table_path: str,
    schema: T.StructType,
    adds: list[dict[str, Any]],
    rid_col: str,
    rcv_col: str,
    file_col: str = "__file__",
    coords: bool = False,
) -> DataFrame:
    """Scan candidate files returning the table columns plus
    ``__file__`` (Spark's URI spelling, for touched-file discovery) and
    the resolved lineage columns ``__lineage_rid__`` /
    ``__lineage_rcv__``. Deletion-vector'd rows are dropped (indexes
    are pre-mask physical positions, so survivors keep their ids) —
    except with ``coords``, which keeps ``__ri__`` and leaves that to
    the caller's coordinate filter (``DeltaTable._read_candidates``).

    Returns None-equivalent situations (external/cloned file refs) are
    the CALLER's job to rule out — this function assumes every add path
    is relative to ``table_path``.
    """
    from jodie_spark.errors import DeltaProtocolError
    from jodie_spark.fs import add_path_key, scanned_path_key
    from jodie_spark.tables.merge import quote_ident
    from jodie_spark.tables.table import (
        _DV_BROADCAST_MAX_POSITIONS,
        _dv_cardinality,
        _spark_paths,
        observed_file_uris,
        scan_parquet,
    )

    ext_schema = T.StructType(
        list(schema.fields)
        + [
            T.StructField(rid_col, T.LongType()),
            T.StructField(rcv_col, T.LongType()),
        ]
    )
    by_real = {add_path_key(table_path, a["path"]): a for a in adds}
    base, paths = _spark_paths(table_path, adds)
    scan = scan_parquet(
        spark, paths, ext_schema, base,
        cols=[
            *(quote_ident(f.name) for f in ext_schema.fields),
            "_metadata.file_path AS __file__",
            "_metadata.row_index AS __ri__",
        ],
    )
    # learn Spark's exact URI spelling for each candidate (one
    # metadata-only job, O(#files); none for no adds) —
    # string-reconstructing URIs is how silent join misses happen
    lin_rows = []
    dv_rows = []
    uris = observed_file_uris(scan.select("__file__"), "__file__") if adds else ()
    for fp in uris:
        add = by_real.get(scanned_path_key(fp))
        if add is None:
            raise DeltaProtocolError(
                f"cannot map scanned file {fp!r} back to a candidate add of "
                f"{table_path}; refusing to fabricate row lineage"
            )
        lin_rows.append(
            (fp, add.get("baseRowId"), add.get("defaultRowCommitVersion"))
        )
        if _dv_cardinality(add) and not coords:
            from jodie_spark.tables.deletion_vectors import read_dv_bytes

            dv_rows.append(
                (fp, bytearray(read_dv_bytes(table_path, add["deletionVector"])))
            )

    lin_schema = T.StructType(
        [
            T.StructField("__file__", T.StringType()),
            T.StructField("__base_rid__", T.LongType()),
            T.StructField("__dflt_rcv__", T.LongType()),
        ]
    )
    spark = scan.sparkSession
    out = scan.join(
        F.broadcast(spark.createDataFrame(lin_rows, lin_schema)), "__file__", "left"
    )

    if dv_rows:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from jodie_spark.tables.deletion_vectors import parse_roaring_bitmap_array

        def _decode_fn(dv):
            return dv.apply(lambda b: parse_roaring_bitmap_array(bytes(b)))

        _decode_fn.__annotations__ = {"dv": pd.Series, "return": pd.Series}
        _decode = pandas_udf(_decode_fn, T.ArrayType(T.LongType()))
        pos_schema = T.StructType(
            [
                T.StructField("__file__", T.StringType()),
                T.StructField("__dv__", T.BinaryType()),
            ]
        )
        positions = spark.createDataFrame(dv_rows, pos_schema).select(
            "__file__", F.explode(_decode(F.col("__dv__"))).alias("__ri__")
        )
        total = sum(_dv_cardinality(a) for a in adds)
        if total <= _DV_BROADCAST_MAX_POSITIONS:
            positions = F.broadcast(positions)
        out = out.join(positions, ["__file__", "__ri__"], "left_anti")

    rid, rcv = quote_ident(rid_col), quote_ident(rcv_col)
    return select_expr(
        out,
        *[quote_ident(f.name) for f in schema.fields],
        f"__file__ AS {quote_ident(file_col)}",
        *(["__ri__"] if coords else []),
        f"coalesce({rid}, __base_rid__ + __ri__) AS {LIN_RID}",
        f"coalesce({rcv}, __dflt_rcv__) AS {LIN_RCV}",
    )


def has_external_adds(table_path: str, adds: list[dict[str, Any]]) -> bool:
    for a in adds:
        p = urllib.parse.unquote(a["path"])
        if os.path.isabs(p) and not os.path.abspath(p).startswith(
            os.path.abspath(table_path) + os.sep
        ):
            return True
    return False
