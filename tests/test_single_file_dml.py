"""DELETE/UPDATE over one candidate file no larger than
``spark.sql.files.openCostInBytes`` skip the touched-file probe: the
rewrite's observed match count decides whether anything commits. These
tests pin the job counts on both sides of the bound, check that a miss
commits nothing and leaves no file behind, and compare every outcome
with the probe path on a twin table."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import parquet_files, session_conf, spark_jobs
from jodie_spark.operators.cdf import read_cdf
from jodie_spark.sources.datasource import register
from jodie_spark.tables.table import DeltaTable, write_delta

OPEN_COST = "spark.sql.files.openCostInBytes"
TIMINGS = ("executionTimeMs", "scanTimeMs", "rewriteTimeMs")


def _kv(spark, path, files=1, options=None):
    """k = v = 0..99, range-partitioned into ``files`` data files."""
    write_delta(
        spark.range(100).selectExpr("id AS k", "id AS v").repartitionByRange(files, "k"),
        path,
        options=options,
    )
    return DeltaTable.forPath(spark, path)


def _id_mapped(spark, path):
    """One-file ``delta.columnMapping.mode = id`` table, k = v = 0..99,
    whose parquet column names match no physical name: only the field
    ids resolve them."""
    os.makedirs(os.path.join(path, "_delta_log"))

    def fid(name, i):
        return pa.field(name, pa.int64(), metadata={b"PARQUET:field_id": str(i).encode()})

    pq.write_table(
        pa.table([pa.array(range(100))] * 2, schema=pa.schema([fid("zz_k", 1), fid("zz_v", 2)])),
        os.path.join(path, "f.parquet"),
    )
    fields = [
        {"name": n, "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": i, "delta.columnMapping.physicalName": f"col-{n}"}}
        for i, n in ((1, "k"), (2, "v"))
    ]
    meta = {
        "id": "single-file-id", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": fields}),
        "partitionColumns": [], "createdTime": 0,
        "configuration": {"delta.columnMapping.mode": "id", "delta.columnMapping.maxColumnId": "2"},
    }
    add = {"path": "f.parquet", "partitionValues": {}, "modificationTime": 0, "dataChange": True,
           "size": os.path.getsize(os.path.join(path, "f.parquet"))}
    with open(os.path.join(path, "_delta_log", "%020d.json" % 0), "w") as fh:
        for action in ({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
                       {"metaData": meta}, {"add": add}):
            fh.write(json.dumps(action) + "\n")
    return DeltaTable.forPath(spark, path)


def _make(spark, path, kind):
    if kind == "id":
        return _id_mapped(spark, path)
    options = {
        "cdf": {"delta.enableChangeDataFeed": "true"},
        "row_tracking": {"delta.enableRowTracking": "true"},
        "name": {"delta.columnMapping.mode": "name"},
    }.get(kind)
    t = _kv(spark, path, options=options)
    if kind == "dv":  # the copy-on-write rewrite must keep k = 7 deleted
        t.delete("k = 7", deletion_vectors=True)
    return t


def _rows(t):
    return sorted(tuple(r) for r in t.toDF().collect())


def _last(t):
    return t.history(1).collect()[0]["operationMetrics"]


def _delete(cond):
    return lambda t: t.delete(cond)


def _update(cond):
    return lambda t: t.update(cond, {"v": "v + 1000"})


def _state(spark, t, kind):
    """What the op left behind: rows, metrics without timings, and the
    change rows or row ids where the table keeps them."""
    metrics = {k: v for k, v in _last(t).items() if k not in TIMINGS}
    extra = None
    if kind == "cdf":
        extra = sorted(
            (r["_commit_version"], r["_change_type"], r["k"], r["v"])
            for r in read_cdf(spark, t.path, 1, t.deltaLog.latest_version()).collect()
        )
    elif kind == "row_tracking":
        register(spark)
        df = spark.read.format("jodie_delta").option("withRowIds", "true").load(t.path)
        extra = sorted((r["_row_id"], r["k"], r["_row_commit_version"]) for r in df.collect())
    return _rows(t), metrics, extra


@pytest.mark.parametrize("op", ["delete", "update"])
def test_two_candidate_files_keep_the_probe(spark, tmpdir_path, op):
    t = _kv(spark, os.path.join(tmpdir_path, "t"), files=2)
    cond = "k IN (5, 95)"
    run = (_delete if op == "delete" else _update)(cond)
    assert spark_jobs(spark, lambda: run(t)) == 2
    want = [(i, i) for i in range(100) if i not in (5, 95)]
    if op == "update":
        want += [(5, 1005), (95, 1095)]
    assert _rows(t) == sorted(want)
    assert _last(t)["numRemovedFiles"] == "2"


@pytest.mark.parametrize("op", ["delete", "update"])
def test_open_cost_bounds_the_single_pass(spark, tmpdir_path, op):
    """A file of exactly the open cost runs one job; one byte more
    keeps the probe."""
    run = (_delete if op == "delete" else _update)("k = 5")
    for slack, jobs in ((0, 1), (-1, 2)):
        t = _kv(spark, os.path.join(tmpdir_path, f"t{jobs}"))
        (add,) = t.snapshot().add_files()
        with session_conf(spark, OPEN_COST, f"{int(add['size']) + slack}b"):
            assert spark_jobs(spark, lambda: run(t)) == jobs
        assert _last(t)["numRemovedFiles"] == "1"


@pytest.mark.parametrize("op", ["delete", "update"])
@pytest.mark.parametrize("kind", ["plain", "cdf", "row_tracking"])
def test_single_file_miss_commits_nothing(spark, tmpdir_path, op, kind):
    """The stats let the file through, no row matches: the rewrite runs
    in place of the probe (one job, as the probe on a twin table, but on
    row tracking, whose rewrite reads row ids: its scan learns the
    file's URI and broadcasts the file's row ids, two jobs more), the
    same commit that removes and adds nothing follows, and the
    rewrite's file is deleted."""
    run = (_delete if op == "delete" else _update)("k = 5 AND v = 6")
    one = _make(spark, os.path.join(tmpdir_path, "one"), kind)
    twin = _make(spark, os.path.join(tmpdir_path, "twin"), kind)
    before = parquet_files(one.path)
    jobs_one = spark_jobs(spark, lambda: run(one))
    with session_conf(spark, OPEN_COST, "1b"):
        jobs_twin = spark_jobs(spark, lambda: run(twin))
    assert jobs_twin == 1
    assert jobs_one == (3 if kind == "row_tracking" else 1)
    assert _state(spark, one, kind) == _state(spark, twin, kind)
    assert _rows(one) == [(i, i) for i in range(100)]
    m = _last(one)
    assert (m["numRemovedFiles"], m["numAddedFiles"], m["numAddedChangeFiles"]) == ("0",) * 3
    assert one.deltaLog.latest_version() == 1
    assert parquet_files(one.path) == before


def test_failed_commit_keeps_the_rewrite_files(spark, tmpdir_path, monkeypatch):
    """A commit that raised may still have landed, so the files it
    names stay on disk."""
    t = _kv(spark, os.path.join(tmpdir_path, "t"))
    before = parquet_files(t.path)

    def fail(*args, **kwargs):
        raise OSError("put-if-absent outcome unknown")

    monkeypatch.setattr(t.deltaLog, "commit", fail)
    with pytest.raises(OSError, match="outcome unknown"):
        t.delete("k = 5")
    assert len(parquet_files(t.path)) == len(before) + 1


@pytest.mark.parametrize("op", ["delete", "update"])
@pytest.mark.parametrize(
    "kind, cond, hit",
    [
        ("plain", "k BETWEEN 3 AND 5", [3, 4, 5]),
        ("cdf", "k BETWEEN 3 AND 5", [3, 4, 5]),
        ("row_tracking", "k BETWEEN 3 AND 5", [3, 4, 5]),
        ("name", "k BETWEEN 3 AND 5", [3, 4, 5]),
        ("id", "k BETWEEN 3 AND 5", [3, 4, 5]),
        ("dv", "k BETWEEN 5 AND 8", [5, 6, 8]),
        ("plain", "k = 5 -- five", [5]),
    ],
)
def test_single_pass_matches_the_probe_path(spark, tmpdir_path, op, kind, cond, hit):
    """The same op on twin tables, the second with a 1-byte open cost
    so it probes: one job fewer on every kind (the probe reads no row
    ids, so row tracking costs it nothing extra), and the same rows,
    operation metrics and change rows or row ids."""
    run = (_delete if op == "delete" else _update)(cond)
    one = _make(spark, os.path.join(tmpdir_path, "one"), kind)
    twin = _make(spark, os.path.join(tmpdir_path, "twin"), kind)
    jobs_one = spark_jobs(spark, lambda: run(one))
    with session_conf(spark, OPEN_COST, "1b"):
        jobs_twin = spark_jobs(spark, lambda: run(twin))
    assert jobs_twin == jobs_one + 1
    got = _state(spark, one, kind)
    assert got == _state(spark, twin, kind)
    rows, metrics, _ = got
    assert metrics["numRemovedFiles"] == "1"
    gone = set(hit) | ({7} if kind == "dv" else set())
    keep = [(i, i) for i in range(100) if i not in gone]
    assert rows == sorted(keep if op == "delete" else keep + [(i, i + 1000) for i in hit])
