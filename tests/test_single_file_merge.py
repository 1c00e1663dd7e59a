"""MERGE over one candidate file no larger than
``spark.sql.files.openCostInBytes``, with a source Spark sizes at most
``spark.sql.autoBroadcastJoinThreshold``, runs no probe: the candidate
and the source join in one task, and the write's observation decides
whether the file is touched. Each case runs the same merge on a copy of
one table with a 1-byte open cost, which forces the probe, and compares
rows, metrics, the commit's actions and the files left behind."""

import json
import os
import shutil

import pytest

from conftest import executed_plans, parquet_files, session_conf, spark_jobs
from jodie_spark.errors import DeltaProtocolError, MergeMultipleMatchesError
from jodie_spark.operators.cdf import read_cdf
from jodie_spark.sources.datasource import register
from jodie_spark.tables.gateway import Observation
from jodie_spark.tables.table import DeltaTable, write_delta
from test_single_file_dml import _id_mapped

OPEN_COST = "spark.sql.files.openCostInBytes"
TIMINGS = ("executionTimeMs", "scanTimeMs", "rewriteTimeMs")


def _lit(v):
    return f"'{v}'" if isinstance(v, str) else f"{v}L"


def _src(spark, rows, cols="k, v"):
    """``rows`` as an inline table: a plan Spark can size, unlike
    ``createDataFrame``'s RDD, whose size it does not know."""
    values = ", ".join("(" + ", ".join(map(_lit, r)) + ")" for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {values} AS s({cols})")


def _make(spark, path, kind):
    """k = v = 0..99 in one data file (``partitioned``: p = k % 2, one
    file per partition), with the table feature ``kind`` names."""
    if kind == "id":
        return _id_mapped(spark, path)
    df = spark.range(100).selectExpr("id AS k", "id AS v").coalesce(1)
    kwargs = {}
    if kind == "partitioned":
        df = df.selectExpr("k", "v", "k % 2 AS p")
        kwargs["partition_by"] = ["p"]
    elif kind == "identity":
        kwargs["identity_columns"] = {"rid": {"start": 1, "step": 1}}
    else:
        kwargs["options"] = {
            "cdf": {"delta.enableChangeDataFeed": "true"},
            "row_tracking": {"delta.enableRowTracking": "true"},
            "name": {"delta.columnMapping.mode": "name"},
        }.get(kind)
    write_delta(df, path, **kwargs)
    t = DeltaTable.forPath(spark, path)
    if kind == "dv":  # the rewrite must keep k = 7 deleted
        t.delete("k = 7", deletion_vectors=True)
    return t


def _upsert(src, cond="t.k = s.k", **kwargs):
    return lambda t: (
        t.alias("t").merge(src.alias("s"), cond)
        .whenMatchedUpdate(set={"v": "s.v"})
        .whenNotMatchedInsertAll()
        .execute(**kwargs)
    )


def _update_only(src):
    return lambda t: (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": "s.v"})
        .execute()
    )


def _by_source(src):
    return lambda t: (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": "s.v"})
        .whenNotMatchedBySourceDelete("t.k > 90")
        .execute()
    )


def _evolve(src):
    return lambda t: (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .withSchemaEvolution()
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def _sink(src):
    """The streaming merge sink's clauses, multiple matches allowed."""
    return lambda t: (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedDelete("s.v < 0")
        .whenMatchedUpdate(set={"v": "s.v"})
        .whenNotMatchedInsert("s.v >= 0", values={"k": "s.k", "v": "s.v"})
        .execute(allow_multiple_matches=True)
    )


def _last_actions(t):
    """(kind, body) of each action of the table's last commit."""
    v = t.deltaLog.latest_version()
    with open(os.path.join(t.path, "_delta_log", "%020d.json" % v)) as fh:
        return [next(iter(json.loads(line).items())) for line in fh if line.strip()]


def _commit(t):
    """The last commit's actions, comparable across the twin tables. How
    many files the output and the change rows fill differs by plan, so
    new files count per directory and partition: data files by their
    combined stats, change files once. commitInfo goes (its metrics are
    compared on their own)."""
    out, groups = set(), {}
    for kind, body in _last_actions(t):
        if kind == "commitInfo":
            continue
        if kind in ("add", "cdc"):
            key = (kind, os.path.dirname(body["path"]), json.dumps(body["partitionValues"]))
            if kind == "add":
                stats = json.loads(body["stats"])
                g = groups.setdefault(key, {"numRecords": 0, "min": {}, "max": {}, "nulls": {}})
                g["numRecords"] += stats["numRecords"]
                for c, x in stats["minValues"].items():
                    g["min"][c] = min(g["min"].get(c, x), x)
                for c, x in stats["maxValues"].items():
                    g["max"][c] = max(g["max"].get(c, x), x)
                for c, x in stats["nullCount"].items():
                    g["nulls"][c] = g["nulls"].get(c, 0) + x
                continue
            body = key
        if kind == "remove":
            body = {k: x for k, x in body.items() if k != "deletionTimestamp"}
        out.add((kind, json.dumps(body, sort_keys=True)))
    return sorted(out) + sorted((k, json.dumps(g, sort_keys=True)) for k, g in groups.items())


def _orphans(t, before):
    """Parquet files on disk that neither existed before the merge nor
    are named by its commit."""
    named = {body["path"] for kind, body in _last_actions(t) if kind in ("add", "cdc")}
    return sorted(set(parquet_files(t.path)) - set(before) - named)


def _state(spark, t, kind):
    """Rows, metrics, the last commit and ``kind``'s extra state. Of the
    metrics the timings are left out, the bytes added (the paths write
    the rows in another order, which parquet encodes in another number
    of bytes) and, but for identity columns, the data file count: the
    probe path's output can take its own number of files, while its
    change rows fill as many files as the data."""
    left_out = TIMINGS + ("numAddedBytes",)
    if kind != "identity":
        left_out += ("numTargetFilesAdded",)
    metrics = {
        k: v
        for k, v in t.history(1).collect()[0]["operationMetrics"].items()
        if k not in left_out
    }
    extra = None
    if kind == "cdf":
        extra = sorted(
            (r["_commit_version"], r["_change_type"], r["k"], r["v"])
            for r in read_cdf(spark, t.path, 1, t.deltaLog.latest_version()).collect()
        )
    elif kind == "row_tracking":
        # kept rows keep their ids; an inserted row's fresh id follows
        # its place in the file, which differs by plan
        register(spark)
        df = spark.read.format("jodie_delta").option("withRowIds", "true").load(t.path)
        got = [(r["_row_id"], r["k"], r["_row_commit_version"]) for r in df.collect()]
        fresh = [i for i, k, _ in got if k >= 100]
        assert len(set(fresh)) == len(fresh) and min(fresh, default=100) >= 100
        extra = sorted((i if k < 100 else -1, k, v) for i, k, v in got)
    rows = sorted((tuple(r) for r in t.toDF().collect()), key=str)
    return rows, metrics, _commit(t), extra


def _twins(spark, tmpdir_path, kind):
    one = _make(spark, os.path.join(tmpdir_path, "one"), kind)
    shutil.copytree(one.path, os.path.join(tmpdir_path, "twin"))
    return one, DeltaTable.forPath(spark, os.path.join(tmpdir_path, "twin"))


HIT = [(5, 50), (7, 70), (500, 1)]
NEW = [(500, 1), (501, 2)]

CASES = [
    ("plain", "upsert", HIT),
    ("cdf", "upsert", HIT),
    ("row_tracking", "upsert", HIT),
    ("dv", "upsert", HIT),
    ("name", "upsert", HIT),
    ("id", "upsert", HIT),
    ("partitioned", "upsert", [(4, 40, 0), (501, 1, 1), (502, 2, 2)]),
    ("plain", "evolve", [(5, 50, "w5"), (500, 1, "w500")]),
    ("identity", "upsert", HIT),
    ("plain", "by_source", HIT),
    ("plain", "sink", [(5, 50), (6, -1), (500, 1), (501, -1)]),
    ("plain", "upsert", NEW),
    ("cdf", "upsert", NEW),
    ("plain", "update_only", NEW),
    ("plain", "upsert", []),
]


def _op(spark, op, kind, rows):
    if not rows:
        return _upsert(_src(spark, [(0, 0)]).limit(0))
    if kind == "partitioned":
        return _upsert(_src(spark, rows, "k, v, p"), "t.p = 0 AND t.k = s.k")
    if op == "evolve":
        return _evolve(_src(spark, rows, "k, v, w"))
    make = {"upsert": _upsert, "update_only": _update_only, "by_source": _by_source,
            "sink": _sink}[op]
    return make(_src(spark, rows))


@pytest.mark.parametrize("kind, op, rows", CASES)
def test_one_task_merge_matches_the_probe_path(spark, tmpdir_path, kind, op, rows):
    """The same merge on two copies of one table, the second forced onto
    the probe path: fewer jobs, the same commit, no orphan file."""
    one, twin = _twins(spark, tmpdir_path, kind)
    before = parquet_files(one.path)
    run = _op(spark, op, kind, rows)
    jobs_one = spark_jobs(spark, lambda: run(one))
    with session_conf(spark, OPEN_COST, "1b"):
        jobs_twin = spark_jobs(spark, lambda: run(twin))
    assert jobs_one < jobs_twin
    assert _state(spark, one, kind) == _state(spark, twin, kind)
    assert _orphans(one, before) == [] and _orphans(twin, before) == []
    assert one.deltaLog.latest_version() == twin.deltaLog.latest_version()


@pytest.mark.parametrize(
    "case, jobs, source_rows",
    [
        pytest.param("two_matches", 1, 2, id="two_matches"),
        pytest.param("empty", 1, 0, id="empty"),
        pytest.param("miss_with_inserts", 2, 2, id="miss_with_inserts"),
    ],
)
def test_source_rows_come_from_the_write(spark, tmpdir_path, case, jobs, source_rows):
    """A one-task merge counts its source rows in the write's own
    observation (the source rows are numbered in the one task): a source
    row matching two target rows counts once, an empty source is 0, and
    a miss whose inserts are rewritten again keeps the first count. Each
    equals what the probe path's observation of the source counts."""
    one, twin = _twins(spark, tmpdir_path, "plain")
    run = {
        # s.k = 3 matches t.k = 6 and t.k = 7
        "two_matches": _upsert(
            _src(spark, [(3, 30), (500, 1)]), "t.k DIV 2 = s.k", allow_multiple_matches=True
        ),
        "empty": _upsert(_src(spark, [(0, 0)]).limit(0)),
        "miss_with_inserts": _upsert(_src(spark, NEW)),
    }[case]
    assert spark_jobs(spark, lambda: run(one)) == jobs
    with session_conf(spark, OPEN_COST, "1b"):
        run(twin)
    got = [t.history(1).collect()[0]["operationMetrics"]["numSourceRows"] for t in (one, twin)]
    assert got == [str(source_rows)] * 2
    assert _state(spark, one, "plain") == _state(spark, twin, "plain")


def test_empty_rdd_source_still_commits(spark, tmpdir_path):
    """A ``createDataFrame([])`` source has no size estimate, so it keeps
    the probe path; the merge still commits, touching nothing."""
    one, twin = _twins(spark, tmpdir_path, "plain")
    run = _upsert(spark.createDataFrame([], "k long, v long"))
    run(one)
    with session_conf(spark, OPEN_COST, "1b"):
        run(twin)
    assert _state(spark, one, "plain") == _state(spark, twin, "plain")
    assert one.deltaLog.latest_version() == 1


@pytest.mark.parametrize("allow", [False, True])
def test_one_task_merge_runs_one_job_without_exchange(spark, tmpdir_path, allow):
    """Check on (a window counts matches per target row) or off, the
    write plan has no exchange and no broadcast, and it is the only job."""
    t = _make(spark, os.path.join(tmpdir_path, "t"), "plain")
    run = _upsert(_src(spark, HIT), allow_multiple_matches=allow)
    assert spark_jobs(spark, lambda: run(t)) == 1
    run = _upsert(_src(spark, [(6, 60)]), allow_multiple_matches=allow)
    (plan,) = executed_plans(spark, lambda: run(t))
    assert "InsertIntoHadoopFsRelationCommand" in plan
    assert "Exchange" not in plan
    assert ("Window" in plan) == (not allow)


def test_miss_costs_one_job_and_one_more_for_inserts(spark, tmpdir_path):
    """A miss commits nothing new and runs the rewrite alone; a miss with
    inserts rewrites them over an empty target, one more job."""
    t = _make(spark, os.path.join(tmpdir_path, "t"), "plain")
    before = parquet_files(t.path)
    assert spark_jobs(spark, lambda: _update_only(_src(spark, NEW))(t)) == 1
    assert parquet_files(t.path) == before
    assert spark_jobs(spark, lambda: _upsert(_src(spark, NEW))(t)) == 2
    m = t.history(1).collect()[0]["operationMetrics"]
    assert (m["numTargetFilesRemoved"], m["numTargetFilesAdded"]) == ("0", "1")
    assert (m["numTargetRowsCopied"], m["numTargetRowsInserted"]) == ("0", "2")


@pytest.mark.parametrize("kind", ["plain", "cdf"])
def test_multiple_matches_refuse_with_no_commit_and_no_file(spark, tmpdir_path, kind):
    one, twin = _twins(spark, tmpdir_path, kind)
    before = parquet_files(one.path)
    run = _upsert(_src(spark, [(5, 1), (5, 2), (500, 3)]))
    with pytest.raises(MergeMultipleMatchesError):
        run(one)
    with session_conf(spark, OPEN_COST, "1b"):
        with pytest.raises(MergeMultipleMatchesError):
            run(twin)
    for t in (one, twin):
        assert t.deltaLog.latest_version() == 0
        assert parquet_files(t.path) == before
        assert sorted(tuple(r) for r in t.toDF().collect()) == [(i, i) for i in range(100)]


def test_missing_observation_refuses(spark, tmpdir_path, monkeypatch):
    """Read as "no hits", a missing observation would drop the merge's
    changes; it refuses before the commit and deletes what was written.
    The rewrite reads its one struct metric through the raising reader:
    an empty report refuses, and so does a report without the struct
    (metric columns of their own are not read)."""
    t = _make(spark, os.path.join(tmpdir_path, "t"), "plain")
    before = parquet_files(t.path)
    flat = {"hits": 1, "updated": 1, "deleted": 0, "copied": 0, "inserted": 0}
    for report in ({}, flat):
        monkeypatch.setattr(Observation, "get", property(lambda self: report))
        with pytest.raises(DeltaProtocolError, match="observation"):
            _upsert(_src(spark, HIT))(t)
        monkeypatch.undo()
        assert t.deltaLog.latest_version() == 0
        assert parquet_files(t.path) == before
