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

This module holds the column names and the table-configuration side.
The lineage read is a layer of the one add scan
(``jodie_spark.tables.table.read_files_df`` with ``lineage``): the
coordinate scan (``__fp__``/``__ri__``, deletion vectors masked) plus
each file's ``baseRowId``/``defaultRowCommitVersion``, broadcast-joined
on ``__fp__`` through the one URI-to-add mapping. Driver work is
bounded by the candidate-file count, never by row count.
"""

from __future__ import annotations

import uuid

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
