"""The change-feed planner: one commit classifier (``change_files``) and
one version cursor shared by ``read_cdf``, the ``jodie_delta``
change-feed readers and both stream readers.

Cursor cases drive a reader in Spark 4.1's observed call orders
(``conftest.drive_stream_reader``); one real query per reader anchors
them."""

import json
import os
import shutil

import pytest
from pyspark.sql.types import StructType

from conftest import drive_stream_reader
from jodie_spark.fs import PrefixFileSystem, register_filesystem, unregister_filesystem
from jodie_spark.operators.cdf import read_cdf
from jodie_spark.sources.datasource import (
    JodieDeltaCdfStreamReader,
    JodieDeltaStreamReader,
    _cdf_schema,
    register,
)
from jodie_spark.tables.log import DeltaLog
from jodie_spark.tables.table import DeltaTable, write_delta

CDF_ON = {"delta.enableChangeDataFeed": "true"}
READERS = ["plain", "cdf"]


def _append(spark, path, lo, mode="append", options=None):
    write_delta(
        spark.range(lo, lo + 10).selectExpr("id").repartition(1),
        path,
        mode=mode,
        options=options,
    )


def _prefilled(spark, path):
    """Three 10-row commits (v0..v2), one file each, CDF on."""
    _append(spark, path, 0, mode="overwrite", options=CDF_ON)
    _append(spark, path, 10)
    _append(spark, path, 20)


def _reader(kind, path, **options):
    base = StructType.fromJson(json.loads(DeltaLog(path).table_info().schema_string))
    opts = {"path": path, "maxFilesPerTrigger": "1", "startingVersion": "0", **options}
    if kind == "cdf":
        return JodieDeltaCdfStreamReader(opts, _cdf_schema(base))
    return JodieDeltaStreamReader(opts, base)


def _ids(batches):
    return [sorted(r["id"] for r in b) for b in batches]


# ---------------------------------------------------------------------------
# the cursor, driven in Spark's call orders
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("kind", READERS)
def test_fresh_processing_time_serves_prefilled_commits_once(spark, tmpdir_path, kind):
    p = os.path.join(tmpdir_path, "t")
    _prefilled(spark, p)
    batches, end = drive_stream_reader(_reader(kind, p))
    assert _ids(batches) == [list(range(30))]
    assert end == {"version": 2}


@pytest.mark.parametrize("kind", READERS)
def test_restart_serves_new_commits_once(spark, tmpdir_path, kind):
    p = os.path.join(tmpdir_path, "t")
    _prefilled(spark, p)
    _, end = drive_stream_reader(_reader(kind, p))
    _append(spark, p, 30)
    _append(spark, p, 40)
    batches, end = drive_stream_reader(_reader(kind, p), restart_from=end)
    assert _ids(batches) == [list(range(30, 50))]
    assert end == {"version": 4}


@pytest.mark.parametrize("kind", READERS)
def test_batches_after_the_first_are_bounded(spark, tmpdir_path, kind):
    p = os.path.join(tmpdir_path, "t")
    _prefilled(spark, p)
    r = _reader(kind, p)
    drive_stream_reader(r, triggers=0)
    _append(spark, p, 30)
    _append(spark, p, 40)
    batches, _ = drive_stream_reader(r, restart_from={"version": 2})
    # same reader: the cursor is known, one 1-file commit per trigger
    assert _ids(batches) == [list(range(30, 40)), list(range(40, 50))]


@pytest.mark.parametrize("kind", READERS)
def test_available_now_drains_fresh_and_after_restart(spark, tmpdir_path, kind):
    p = os.path.join(tmpdir_path, "t")
    _prefilled(spark, p)
    batches, end = drive_stream_reader(_reader(kind, p), available_now=True)
    assert _ids(batches) == [list(range(30))]
    for lo in (30, 40, 50):
        _append(spark, p, lo)
    batches, end = drive_stream_reader(
        _reader(kind, p), restart_from=end, available_now=True
    )
    assert _ids(batches) == [list(range(30, 60))]
    assert end == {"version": 5}


@pytest.mark.parametrize("kind", READERS)
def test_backwards_partitions_range_raises(spark, tmpdir_path, kind):
    p = os.path.join(tmpdir_path, "t")
    _prefilled(spark, p)
    r = _reader(kind, p)
    with pytest.raises(ValueError, match="backwards"):
        r.partitions({"version": 2}, {"version": 0})
    assert r.partitions({"version": 1}, {"version": 1}) == []


@pytest.mark.parametrize("kind", READERS)
def test_initial_offset_never_moves_the_cursor_back(spark, tmpdir_path, kind):
    p = os.path.join(tmpdir_path, "t")
    _prefilled(spark, p)
    r = _reader(kind, p)
    assert r.latestOffset() == {"version": 2}  # first call: unbounded
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 2}  # not re-walked from -1


@pytest.mark.parametrize("kind", READERS)
def test_real_query_fresh_then_restart(spark, tmpdir_path, kind):
    """The anchor: Spark's own call order on a fresh processing-time
    query, then an availableNow restart from its checkpoint."""
    register(spark)
    p = os.path.join(tmpdir_path, "t")
    out = os.path.join(tmpdir_path, "out")
    ck = os.path.join(tmpdir_path, "ck")
    _prefilled(spark, p)

    def start(available_now):
        src = (
            spark.readStream.format("jodie_delta")
            .option("maxFilesPerTrigger", 1)
            .option("startingVersion", 0)
        )
        if kind == "cdf":
            src = src.option("readChangeFeed", "true")
        w = (
            src.load(p)
            .select("id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
        )
        return (w.trigger(availableNow=True) if available_now else w).start()

    q = start(False)
    try:
        q.processAllAvailable()
        fresh = [e["numInputRows"] for e in q.recentProgress if e["numInputRows"]]
    finally:
        q.stop()
    assert fresh == [30]
    _append(spark, p, 30)
    _append(spark, p, 40)
    q = start(True)
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    ids = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert ids == list(range(50))


# ---------------------------------------------------------------------------
# read_cdf and the datasource CDF reader
# ---------------------------------------------------------------------------


def _changes(df):
    return sorted(
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in df.select("id", "_change_type", "_commit_version").collect()
    )


def _datasource_changes(spark, path, start, end):
    register(spark)
    return _changes(
        spark.read.format("jodie_delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", start)
        .option("endingVersion", end)
        .load(path)
    )


def test_read_cdf_on_a_registered_scheme_table(spark, tmpdir_path):
    fs = PrefixFileSystem("cdfprefix", tmpdir_path)
    register_filesystem("cdfprefix", fs)
    try:
        path = "cdfprefix://warehouse/t"
        write_delta(
            spark.range(6).selectExpr("id", "id % 2 AS m").repartition(1),
            path,
            options=CDF_ON,
        )
        t = DeltaTable.forPath(spark, path)
        t.delete("id = 0")  # v1: cdc file
        t.delete()  # v2: remove-only, delete rows synthesized
        got = _changes(read_cdf(spark, path, 0))
    finally:
        unregister_filesystem("cdfprefix")
    assert got == sorted(
        [(i, "insert", 0) for i in range(6)]
        + [(0, "delete", 1)]
        + [(i, "delete", 2) for i in range(1, 6)]
    )


def test_deletion_vector_then_full_delete_change_rows(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "t")
    write_delta(spark.range(10).selectExpr("id").repartition(1), p, options=CDF_ON)
    t = DeltaTable.forPath(spark, p)
    t.delete("id < 2", deletion_vectors=True)  # v1
    t.delete()  # v2
    want = sorted(
        [(i, "insert", 0) for i in range(10)]
        + [(i, "delete", 1) for i in range(2)]
        + [(i, "delete", 2) for i in range(2, 10)]
    )
    assert _changes(read_cdf(spark, p, 0, 2)) == want
    assert _datasource_changes(spark, p, 0, 2) == want


def test_files_sharing_a_basename_keep_their_own_version(spark, tmpdir_path):
    """A converted Hive table names its files ``000000_0.parquet`` in
    every partition directory; each file's rows come once, at the
    version that added it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jodie_spark.sources import convert_to_delta

    p = os.path.join(tmpdir_path, "hive")
    for part, ids in ((1, [1, 2]), (2, [3])):
        os.makedirs(os.path.join(p, f"a={part}"))
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64())}),
            os.path.join(p, f"a={part}", "000000_0.parquet"),
        )
    t = convert_to_delta(spark, p, partition_columns=["a"])  # v0: both files
    t.set_properties(CDF_ON)  # v1
    os.makedirs(os.path.join(p, "a=3"))
    rel = "a=3/000000_0.parquet"
    pq.write_table(pa.table({"id": pa.array([4], pa.int64())}), os.path.join(p, rel))
    log = DeltaLog(p)
    log.commit(
        log.latest_version(),
        [
            {
                "add": {
                    "path": rel,
                    "partitionValues": {"a": "3"},
                    "size": os.path.getsize(os.path.join(p, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        ],
        "WRITE",
    )  # v2
    want = [(1, "insert", 0), (2, "insert", 0), (3, "insert", 0), (4, "insert", 2)]
    assert _changes(read_cdf(spark, p, 0, 2)) == want
    assert _datasource_changes(spark, p, 0, 2) == want


def test_a_file_restore_adds_again_serves_both_versions(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "t")
    write_delta(spark.range(3).selectExpr("id").repartition(1), p, options=CDF_ON)
    t = DeltaTable.forPath(spark, p)
    t.delete()  # v1
    t.restore(0)  # v2: adds the v0 file again
    want = sorted(
        [(i, "insert", 0) for i in range(3)]
        + [(i, "delete", 1) for i in range(3)]
        + [(i, "insert", 2) for i in range(3)]
    )
    assert _changes(read_cdf(spark, p, 0, 2)) == want
    assert _datasource_changes(spark, p, 0, 2) == want


# ---------------------------------------------------------------------------
# removes carry the removed add's deletion vector
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dv_template(spark, tmp_path_factory):
    """Two files, ids 0..9 in the first and 10..19 in the second; the
    first carries a deletion vector of ids 0 and 1."""
    p = str(tmp_path_factory.mktemp("dvtpl") / "t")
    write_delta(spark.range(10).selectExpr("id").repartition(1), p)
    write_delta(spark.range(10, 20).selectExpr("id").repartition(1), p, mode="append")
    DeltaTable.forPath(spark, p).delete("id < 2", deletion_vectors=True)
    return p


def _rewrite_ops():
    def restore(t, spark):
        t.restore(1)

    def fsck(t, spark):
        dv_add = next(a for a in t.snapshot().add_files() if a.get("deletionVector"))
        os.remove(os.path.join(t.path, dv_add["path"]))
        t.fsck(dry_run=False)

    def merge(t, spark):
        src = spark.createDataFrame([(5,)], "id long")
        t.alias("t").merge(src.alias("s"), "t.id = s.id").whenMatchedDelete().execute()

    def datasource_overwrite(t, spark):
        register(spark)
        spark.range(3).selectExpr("id").write.format("jodie_delta").mode(
            "overwrite"
        ).save(t.path)

    return {
        "delete": lambda t, spark: t.delete("id = 5"),
        "delete_all": lambda t, spark: t.delete(),
        "update": lambda t, spark: t.update("id = 5", {"id": "50"}),
        "merge": merge,
        "optimize": lambda t, spark: t.optimize().executeCompaction(),
        "overwrite": lambda t, spark: _append(spark, t.path, 0, mode="overwrite"),
        "datasource_overwrite": datasource_overwrite,
        "restore": restore,
        "fsck": fsck,
        "dv_delete_again": lambda t, spark: t.delete("id = 5", deletion_vectors=True),
        "reorg": lambda t, spark: t.reorg_purge(),
    }


@pytest.mark.parametrize("op", sorted(_rewrite_ops()))
def test_rewrite_of_a_dv_file_removes_it_with_its_descriptor(
    spark, tmpdir_path, dv_template, op
):
    p = os.path.join(tmpdir_path, "t")
    shutil.copytree(dv_template, p)
    t = DeltaTable.forPath(spark, p)
    before = {a["path"]: a.get("deletionVector") for a in t.snapshot().add_files()}
    _rewrite_ops()[op](t, spark)
    log = DeltaLog(p)
    removes = [a["remove"] for a in log.read_actions(log.latest_version()) if a.get("remove")]
    dv_removes = [r for r in removes if before.get(r["path"])]
    assert dv_removes, f"{op} removed no deletion-vector file"
    for r in removes:
        if before.get(r["path"]):
            assert r["deletionVector"] == before[r["path"]]
        else:
            assert "deletionVector" not in r


def test_remove_without_deletion_vector_keeps_its_keys(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "t")
    write_delta(spark.range(10).selectExpr("id").repartition(1), p)
    DeltaTable.forPath(spark, p).delete("id = 3")
    log = DeltaLog(p)
    (rm,) = [a["remove"] for a in log.read_actions(1) if a.get("remove")]
    assert list(rm) == ["path", "deletionTimestamp", "dataChange", "partitionValues", "size"]
