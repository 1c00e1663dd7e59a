"""Change Data Feed: the change-feed planner, the batch reader, and
failure-scenario recovery.

Parity: reference ChangeDataFeedHelper.scala:18-377. The reference
delegates the read itself to Delta's CDF reader
(``option("readChangeFeed","true")``); this engine rebuilds it on the
log protocol. :func:`change_files` is the one classifier of a commit's
change files, shared by :func:`read_cdf` and the ``jodie_delta``
change-feed readers (``sources/datasource.py``):

- versions with ``cdc`` actions → their ``_change_data`` parquet
  (rows already carry ``_change_type``);
- versions without ``cdc`` actions → ``insert`` rows from dataChange
  ``add`` files and ``delete`` rows from dataChange ``remove`` files
  (which survive until vacuum) — the same synthesis Delta's CDCReader
  performs for plain appends, full-table deletes, overwrites, and
  RESTORE. A file's deletion vector applies: rows it deletes are not
  change rows;
- a version inside the range where CDF is *disabled* (tracked by
  replaying ``metaData`` configuration changes) raises, matching
  Delta's DeltaAnalysisException failure mode the recovery helpers
  exist to work around.

:func:`version_range` resolves the starting/ending version and
timestamp options for every change-feed and stream reader.

Scale: :func:`read_cdf` reads each kind of change file in one Spark
scan (a path one kind serves twice adds a scan), never a per-version
read loop over data; data files go through the one add scan
(``read_files_df``), which drops the rows their deletion vectors
delete. Commit version and timestamp attach per file by a broadcast
join on Spark's spelling of the file path, learned from one observed
job over all the scans and mapped to change files by the one
URI-to-add mapping (``scanned_files``), which refuses a file it cannot
map.
"""

from __future__ import annotations

import urllib.parse
from collections import Counter
from functools import reduce
from typing import Any, Iterator, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jodie_spark.errors import DeltaProtocolError, VersionNotFoundError
from jodie_spark.fs import get_fs
from jodie_spark.tables.column_mapping import rename_to_logical
from jodie_spark.tables.gateway import select_expr
from jodie_spark.tables.log import DeltaLog
from jodie_spark.tables.merge import quote_ident
from jodie_spark.tables.table import (
    _FP_RI,
    CDF_PROP,
    DeltaTable,
    read_files_df,
    scan_parquet,
    scanned_files,
)


def _cdf_enabled(configuration: dict[str, Any]) -> bool:
    return str((configuration or {}).get(CDF_PROP, "false")).lower() == "true"


def _to_ts_ms(ts) -> int:
    import datetime as _dt

    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts)
    if isinstance(ts, _dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        return int(ts.timestamp() * 1000)
    return int(float(ts) * 1000)


def version_range(
    log: DeltaLog,
    starting_version=None,
    starting_timestamp=None,
    ending_version=None,
    ending_timestamp=None,
) -> tuple[int | None, int | None]:
    """(first, last) commit version a change-feed or stream read covers,
    from delta-spark's ``startingVersion``/``startingTimestamp`` and
    ``endingVersion``/``endingTimestamp`` options. A version is taken as
    given; a starting timestamp resolves to the earliest commit at or
    after it, an ending timestamp to the newest commit at or before it.
    An end with neither option is None, and so is a start."""

    def resolve(version, timestamp, at_or_after: bool) -> int | None:
        if version is not None:
            return int(version)
        if timestamp is not None:
            return log.version_at_timestamp(_to_ts_ms(timestamp), at_or_after=at_or_after)
        return None

    return (
        resolve(starting_version, starting_timestamp, True),
        resolve(ending_version, ending_timestamp, False),
    )


# log action → the kind of change rows its file holds
_CHANGE_KINDS = {"cdc": "cdc", "add": "insert", "remove": "delete"}


class ChangeFile(NamedTuple):
    """One file of a commit's change feed."""

    kind: str  # 'cdc' | 'insert' | 'delete'
    path: str  # table-relative, percent-encoded as in the log
    partition_values: dict[str, str]
    dv: dict | None  # deletion vector: the rows it deletes are not changes
    size: int
    version: int
    ts_ms: int


def change_files(log: DeltaLog, start_v: int, end_v: int) -> Iterator[tuple[int, list[ChangeFile]]]:
    """``(v, change files of commit v)`` for each commit in ``(start_v,
    end_v]``, in log order: a commit that wrote ``cdc`` actions serves
    those (its adds and removes are not read), any other its dataChange
    adds as ``insert`` and its dataChange removes as ``delete`` files.

    Raises on a version past 0 written with CDF off (``metaData``
    toggles are tracked through the range), and when a ``cdc`` file or
    a removed data file has been deleted (vacuumed): their rows cannot
    be served. Lazy: a caller that stops early reads no further
    commits."""
    if start_v + 1 > end_v:
        return
    fs = get_fs(log.table_path)
    # the configuration at the first version served: its own metaData
    # (if any) sets the same state again below
    enabled = _cdf_enabled(log.table_info(max(start_v + 1, 0)).configuration)
    for v in range(start_v + 1, end_v + 1):
        actions = log.read_actions(v)
        ci = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
        ts = int(ci.get("inCommitTimestamp") or ci.get("timestamp") or 0)
        cdc: list[ChangeFile] = []
        data: list[ChangeFile] = []
        for a in actions:
            if a.get("metaData"):
                enabled = _cdf_enabled(a["metaData"].get("configuration"))
            for key, kind in _CHANGE_KINDS.items():
                f = a.get(key)
                if f and (key == "cdc" or f.get("dataChange", True)):
                    (cdc if key == "cdc" else data).append(
                        ChangeFile(
                            kind,
                            f["path"],
                            f.get("partitionValues") or {},
                            f.get("deletionVector"),
                            int(f.get("size") or 0),
                            v,
                            ts,
                        )
                    )
        if v > 0 and not enabled:
            raise DeltaProtocolError(
                f"Error getting change data for version {v}: change data was "
                f"not recorded ({CDF_PROP} is disabled)."
            )
        files = cdc or data
        for f in files:
            # a remove-only commit (full-table delete, overwrite, RESTORE)
            # writes no cdc files: its delete rows come from the removed
            # data files, which stay on disk until vacuum
            p = fs.join(log.table_path, urllib.parse.unquote(f.path))
            if f.kind != "insert" and not fs.isfile(p):
                what = "change data" if f.kind == "cdc" else "removed data"
                raise FileNotFoundError(
                    f"{what} file {p} for version {v} has been deleted (vacuumed?)"
                )
        yield v, files


def read_cdf(
    spark: SparkSession,
    path: str,
    starting_version: int | None = None,
    ending_version: int | None = None,
    starting_timestamp=None,
    ending_timestamp=None,
) -> DataFrame:
    """Change rows between versions (inclusive) with ``_change_type``,
    ``_commit_version``, ``_commit_timestamp``. Timestamps resolve to
    versions the way delta-spark's startingTimestamp/endingTimestamp
    options do (see :func:`version_range`).
    Parity: ChangeDataFeedHelper.scala:371-377."""
    table = DeltaTable.forPath(spark, path)
    log = table.deltaLog
    start, end = version_range(
        log, starting_version, starting_timestamp, ending_version, ending_timestamp
    )
    if start is None:
        raise ValueError("read_cdf needs starting_version or starting_timestamp")
    if end is None:
        end = log.latest_version()
    end_info = log.table_info(end)
    schema = table.schema(end_info)
    out_schema = T.StructType(
        list(schema.fields)
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
            T.StructField("_commit_timestamp", T.TimestampType()),
        ]
    )
    # one scan per (kind, occurrence): a path served twice by one kind
    # (re-added by RESTORE) is scanned once per occurrence, so each
    # scan maps a file to exactly one version and deletion vector
    legs: dict[tuple[str, int], list[ChangeFile]] = {}
    seen: Counter = Counter()
    for _, files in change_files(log, start - 1, end):
        for f in files:
            legs.setdefault((f.kind, seen[f.kind, f.path]), []).append(f)
            seen[f.kind, f.path] += 1
    if not legs:
        return spark.createDataFrame([], out_schema)

    # column-mapped tables store physical names in data/cdc files —
    # scan physical, rename back to logical (a logical-schema scan
    # would silently return all-null columns)
    ms = table._mapping_schemas(end_info)
    read_schema = schema if ms is None else ms[1]
    cdc_schema = T.StructType(
        list(read_schema.fields) + [T.StructField("_change_type", T.StringType())]
    )
    fs = get_fs(path)
    parts: list[DataFrame] = []
    files: list[dict[str, Any]] = []
    for i, ((kind, _), leg) in enumerate(legs.items()):
        adds = [
            {"path": f.path, "deletionVector": f.dv, "leg": i, "change": f} for f in leg
        ]
        files += adds
        if kind == "cdc":
            paths = [fs.spark_path(fs.join(path, urllib.parse.unquote(f.path))) for f in leg]
            scan = scan_parquet(spark, paths, cdc_schema, cols=["*", *_FP_RI, f"{i} AS ___leg"])
        else:
            scan = select_expr(
                read_files_df(spark, path, read_schema, adds, coords=True),
                "*",
                f"'{kind}' AS _change_type",
                f"{i} AS ___leg",
            )
        if ms is not None:
            scan = rename_to_logical(
                scan, ms[0], ms[1], keep=("_change_type", "__fp__", "___leg")
            )
        parts.append(scan)
    scans = reduce(lambda a, b: a.unionByName(b), parts)
    # Spark's spelling of each scanned file, one job; a file two legs
    # read maps to its change file in each
    mapping = spark.createDataFrame(
        [
            (a["leg"], u, a["change"].version, a["change"].ts_ms)
            for u, a in scanned_files(scans, path, files)
        ],
        "___leg int, __fp__ string, _commit_version long, ___ts_ms long",
    )
    joined = scans.join(F.broadcast(mapping), ["___leg", "__fp__"], "left").withColumn(
        "_commit_timestamp", F.timestamp_millis(F.col("___ts_ms"))
    )
    return select_expr(joined, *[quote_ident(f.name) for f in out_schema.fields])


class ChangeDataFeedHelper:
    """Recovery helpers for the three CDF failure scenarios.
    Parity: reference ChangeDataFeedHelper.scala:40-368."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        starting_version: int,
        ending_version: int | None = None,
    ):
        self.spark = spark
        self.path = path
        self.log = DeltaLog(path)
        self.starting_version = int(starting_version)
        self.ending_version = (
            int(ending_version) if ending_version is not None else self.log.latest_version()
        )

    # -- reads ---------------------------------------------------------------

    def read_cdf(self) -> DataFrame:
        return read_cdf(self.spark, self.path, self.starting_version, self.ending_version)

    def read_cdf_ignore_missing_delta_log(self) -> DataFrame | None:
        """Parity: ChangeDataFeedHelper.scala:78-79."""
        versions = self.get_versions_for_available_delta_log()
        if versions is None:
            return None
        return read_cdf(self.spark, self.path, versions[0], versions[1])

    def read_cdf_ignore_missing_cdc(self) -> DataFrame | None:
        """Parity: ChangeDataFeedHelper.scala:88."""
        versions = self.get_versions_for_available_cdc()
        if versions is None:
            return None
        return read_cdf(self.spark, self.path, versions[0], versions[1])

    def read_cdf_ignore_missing_ranges_for_edr(self) -> DataFrame | None:
        """Parity: ChangeDataFeedHelper.scala:63-66."""
        ranges = self.get_ranges_for_cdf_enabled_versions()
        if ranges is None:
            return None
        dfs = [read_cdf(self.spark, self.path, a, b) for a, b in ranges]
        return reduce(lambda x, y: x.union(y), dfs)

    # -- dry run -------------------------------------------------------------

    def dry_run(self) -> "ChangeDataFeedHelper":
        """Parity: ChangeDataFeedHelper.scala:101-123."""
        a = self.get_versions_for_available_delta_log()
        b = self.get_versions_for_available_cdc()
        c = self.get_ranges_for_cdf_enabled_versions()
        if a is None or b is None or c is None:
            raise RuntimeError("Please run methods individually to debug issues with CDF.")
        want = (self.starting_version, self.ending_version)
        assert a == want, (
            f"Delta Log for provided versions are not available. "
            f"Available versions are between {a[0]} and {a[1]}"
        )
        assert b == want, (
            f"Change Data for provided versions are not available. "
            f"Available CDC versions are between {a[0]} and {a[1]}"
        )
        assert len(c) == 1 and c[0] == want, (
            f"CDC has been disabled  between provided versions : "
            f"{self.starting_version} and {self.ending_version} . Use "
            f"getRangesForCDFEnabled method to find exact versions between which CDC is available"
        )
        return self

    # -- log availability ----------------------------------------------------

    def get_log_versions(self, is_checkpoint: bool) -> tuple[int, int] | None:
        """Parity: ChangeDataFeedHelper.scala:191-210."""
        try:
            if not is_checkpoint and not self.log.has_commit_file(self.starting_version):
                raise VersionNotFoundError(
                    self.starting_version,
                    self.log.earliest_reachable_version(),
                    self.log.latest_version(),
                )
            start_snap = self.log.snapshot(self.starting_version)
            end_snap = self.log.snapshot(self.ending_version)
            if _cdf_enabled(start_snap.configuration) and _cdf_enabled(end_snap.configuration):
                return (self.starting_version, self.ending_version)
            return None
        except VersionNotFoundError as e:
            return (e.earliest, e.latest)

    def get_versions_for_available_delta_log(self) -> tuple[int, int] | None:
        return self.get_log_versions(True)

    def check_earliest_delta_file_between_versions(self) -> tuple[int, int] | None:
        return self.get_log_versions(False)

    # -- CDC file availability ----------------------------------------------

    def get_versions_for_available_cdc(self) -> tuple[int, int] | None:
        """First version whose ``_change_data`` file still exists on disk
        (vacuum deletes oldest-first, so one probe per version suffices).
        Parity: ChangeDataFeedHelper.scala:225-284 — including the
        version-0 skip and the no-op-commit assertion."""
        version_to_query = -1
        start = (
            self.starting_version + 1
            if self.starting_version == 0 and self.starting_version + 1 < self.ending_version
            else self.starting_version
        )
        for v in range(start, self.ending_version):
            actions = self.log.read_actions(v)
            cdc = [a["cdc"] for a in actions if "cdc" in a and a["cdc"]]
            if not cdc:
                ci = next((a["commitInfo"] for a in actions if "commitInfo" in a), None)
                metrics = (ci or {}).get("operationMetrics") or {}
                if metrics and "numTargetRowsInserted" in metrics:
                    assert (
                        metrics.get("numTargetRowsInserted") == "0"
                        and metrics.get("numTargetRowsUpdated") == "0"
                        and metrics.get("numTargetRowsDeleted") == "0"
                    ), (
                        "Insert/Update/Delete has happened but cdc column is not present, "
                        "CDF might have been disabled between versions"
                    )
                else:
                    has_add = any("add" in a and a["add"] for a in actions)
                    has_remove = any("remove" in a and a["remove"] for a in actions)
                    if has_add and has_remove:
                        raise AssertionError(
                            "No insert/update/delete happened and cdc column is not present, "
                            "CDF might have been disabled between versions"
                        )
                continue
            fs = get_fs(self.path)
            if fs.isfile(fs.join(self.path, urllib.parse.unquote(cdc[0]["path"]))):
                # vacuum deletes oldest-first: the first surviving CDC file
                # guarantees all later versions' files survive too
                version_to_query = v
                break
            # missing file (vacuumed) — keep scanning later versions
        if version_to_query == -1:
            return None
        return (version_to_query, self.ending_version)

    # -- enable/disable ranges -----------------------------------------------

    def get_all_versions_with_cdf_status(self) -> list[tuple[int, bool]]:
        """Per-version CDF status: metadata flag, presence of a cdc
        action, or carry-forward across no-op commits.
        Parity: ChangeDataFeedHelper.scala:327-359 (getCDFVersions)."""
        out: list[tuple[int, bool]] = []
        prev = False
        for v, actions in self.log.get_changes(self.starting_version):
            if v > self.ending_version:
                break
            cdc_evaluated = any(
                ("cdc" in a and a["cdc"])
                or ("metaData" in a and a["metaData"] and _cdf_enabled(a["metaData"].get("configuration")))
                for a in actions
            )
            non_commit = [a for a in actions if "commitInfo" not in a]
            if not non_commit:
                ci = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
                metrics = ci.get("operationMetrics") or {}
                if metrics:
                    if (
                        metrics.get("numTargetRowsDeleted") == "0"
                        and metrics.get("numTargetRowsInserted") == "0"
                        and metrics.get("numTargetRowsUpdated") == "0"
                    ):
                        enabled = prev
                    else:
                        enabled = cdc_evaluated
                else:
                    enabled = cdc_evaluated
            else:
                enabled = cdc_evaluated
            prev = enabled
            out.append((v, enabled))
        return out

    def get_all_cdf_enabled_versions(self) -> list[int]:
        return [v for v, on in self.get_all_versions_with_cdf_status() if on]

    def get_all_cdf_disabled_versions(self) -> list[int]:
        return [v for v, on in self.get_all_versions_with_cdf_status() if not on]

    def get_ranges_for_cdf_enabled_versions(self) -> list[tuple[int, int]] | None:
        return group_versions_inclusive(self.get_all_cdf_enabled_versions())

    def get_ranges_for_cdf_disabled_versions(self) -> list[tuple[int, int]] | None:
        return group_versions_inclusive(self.get_all_cdf_disabled_versions())


def group_versions_inclusive(versions: list[int]) -> list[tuple[int, int]] | None:
    """Group consecutive versions into inclusive ranges; lists of size
    0 or 1 yield None — quirk preserved from
    ChangeDataFeedHelper.scala:295-315 (including the -1 end marker for
    an isolated leading version)."""
    if len(versions) <= 1:
        return None
    p_version = versions[0]
    s_version = versions[0]
    cur_version = -1
    ranges: dict[int, int] = {}
    for x in versions[1:]:
        if p_version + 1 == x:
            cur_version = x
            p_version = x
        else:
            ranges[s_version] = cur_version
            p_version = x
            s_version = x
    ranges[s_version] = cur_version
    return sorted(ranges.items())
