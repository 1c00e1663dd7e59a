"""Broadcast-source MERGE: when no multiple-match check has to run and
the persisted source is small enough for Spark's static broadcast rule,
the touched files are rewritten by a LEFT OUTER join with the broadcast
source plus the source rows the probe saw no match for — no shuffle of
the target, one output file per target scan partition. Other merges
keep the full outer join."""

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import executed_plans, py4j_commands, spark_jobs, sql_executions
from jodie_spark.tables import merge as merge_mod
from jodie_spark.tables.table import DeltaTable, write_delta
from test_single_file_merge import _src


def _kv(spark, tmpdir_path, name="t", files=1):
    """k = v = 0..99, range-partitioned into ``files`` data files."""
    path = os.path.join(tmpdir_path, name)
    write_delta(
        spark.range(100).selectExpr("id AS k", "id AS v").repartitionByRange(files, "k"),
        path,
    )
    return DeltaTable.forPath(spark, path)


def _rows(t):
    return sorted(tuple(r) for r in t.toDF().collect())


def _last_metrics(t):
    return t.history(1).collect()[0]["operationMetrics"]


def _upsert(t, src, **kwargs):
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": "s.v"})
        .whenNotMatchedInsertAll()
        .execute(**kwargs)
    )


def _write_plan(plans):
    (plan,) = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    return plan


@pytest.fixture(params=["broadcast", "sort_merge"])
def join_plan(request, spark):
    """Run the test under the default (broadcast) join plan and with
    broadcasts off, which keeps the full outer rewrite."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if request.param == "sort_merge":
        spark.conf.set(key, "-1")
    yield request.param
    spark.conf.set(key, old)


def test_upsert_allowing_multiple_matches_runs_one_job(spark, tmpdir_path):
    """One small candidate file and a source Spark sizes as small: no
    probe, and the rewrite joins both sides in one task, with no
    exchange and no broadcast. The probe and the broadcast rewrite ran 5
    jobs; the full outer rewrite before them 7."""
    t = _kv(spark, tmpdir_path)
    src = _src(spark, [(5, 50), (500, 1)])
    plans = []
    jobs = spark_jobs(
        spark,
        lambda: plans.extend(
            executed_plans(spark, lambda: _upsert(t, src, allow_multiple_matches=True))
        ),
    )
    assert jobs == 1
    assert "Exchange" not in _write_plan(plans)
    assert _rows(t) == sorted(
        [(i, 50 if i == 5 else i) for i in range(100)] + [(500, 1)]
    )
    m = _last_metrics(t)
    assert (m["numTargetRowsUpdated"], m["numTargetRowsInserted"]) == ("1", "1")
    assert (m["numTargetRowsCopied"], m["numTargetFilesAdded"]) == ("99", "1")
    assert m["numSourceRows"] == "2"


def test_source_of_unknown_size_keeps_the_probe(spark, tmpdir_path):
    """A ``createDataFrame`` source has no size estimate until the probe
    fills its cache: the probe's jobs, then the rewrite's broadcast and
    write."""
    t = _kv(spark, tmpdir_path)
    src = spark.createDataFrame([(5, 50), (500, 1)], "k long, v long")
    assert spark_jobs(spark, lambda: _upsert(t, src, allow_multiple_matches=True)) == 5
    assert _rows(t) == sorted(
        [(i, 50 if i == 5 else i) for i in range(100)] + [(500, 1)]
    )


def test_check_on_upsert_keeps_the_full_outer_rewrite(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path)
    src = spark.createDataFrame([(5, 50), (500, 1)], "k long, v long")
    plan = _write_plan(executed_plans(spark, lambda: _upsert(t, src)))
    assert "FullOuter" in plan


def test_rewrite_plan_has_no_exchange(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path, files=2)
    src = spark.createDataFrame([(5, 50), (500, 1)], "k long, v long")
    plan = _write_plan(
        executed_plans(spark, lambda: _upsert(t, src, allow_multiple_matches=True))
    )
    assert "BroadcastHashJoin LeftOuter" in plan
    assert "Exchange" not in plan.replace("BroadcastExchange", "")
    assert "FullOuter" not in plan


@pytest.mark.parametrize("files", [1, 2])
def test_one_added_file_per_merge(spark, tmpdir_path, files):
    """The inserts join the touched file's output partition: a one-file
    rewrite plus inserts is still one file."""
    t = _kv(spark, tmpdir_path, files=files)
    src = spark.createDataFrame([(5, 50), (7, 70), (500, 1), (501, 2)], "k long, v long")
    _upsert(t, src, allow_multiple_matches=True)
    m = _last_metrics(t)
    assert (m["numTargetFilesRemoved"], m["numTargetFilesAdded"]) == ("1", "1")
    assert m["numTargetRowsInserted"] == "2"
    assert len(t.deltaLog.snapshot().add_files()) == files


def test_sink_batch_on_one_file_target_runs_two_jobs(spark, tmpdir_path):
    """A CDC micro-batch with repeated keys: the emptiness check, then the
    one-task merge, whose write dedups the batch in place and joins it
    with the one target file. The probe (cache build, broadcast, noop
    action) and the broadcast rewrite (broadcast, write) made it 6 jobs,
    the shuffled rewrite 8. The batch registers 4 SQL executions: the
    micro-batch's scan of the source, the emptiness check, the sink's
    partition count of the batch (a plan built and not run) and the
    write; the broadcast rewrite's partition count of the target scan
    is gone.

    The warm batch's py4j commands (every thread, releases left out)
    are pinned too, 52: the sink and the merge build few JVM objects
    per batch (one struct metric on the write, one staging projection,
    the scan reader an earlier batch of the query's session prepared,
    no ``drop``, ``cache()`` over ``persist()``), and name no JVM class
    or method PySpark has to look up: the 3 reflection commands left
    are PySpark's own, in its foreachBatch wrapper."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from jodie_spark.sources.datasource import register
    from jodie_spark.streaming.delta_sink import write_stream_merge_to_delta
    from jodie_spark.tables.log import DeltaLog

    register(spark)
    src = os.path.join(tmpdir_path, "src")
    dst = os.path.join(tmpdir_path, "dst")
    write_delta(
        spark.range(100).selectExpr("id AS k", "0L AS seq", "'r' AS v").coalesce(1),
        dst,
    )
    ddl = "k long, seq long, v string, del boolean"
    write_delta(spark.createDataFrame([], ddl), src)
    query = write_stream_merge_to_delta(
        spark.readStream.format("jodie_delta")
        .option("maxFilesPerTrigger", 1)
        .option("startingVersion", 1)
        .load(src),
        dst,
        os.path.join(tmpdir_path, "ckpt"),
        keys=["k"],
        sequence_col="seq",
        delete_col="del",
    )
    batches = [
        [(1, 1, "a", False), (1, 2, "b", False), (2, 3, None, True), (200, 4, "n", False)],
        [(3, 5, "c", False), (3, 6, None, True), (4, 7, "d", False), (4, 8, "e", False),
         (201, 9, "m", False), (201, 10, "o", False)],
    ]
    log = DeltaLog(src)

    def batch(rows):
        """Commit ``rows`` to the source and wait for their micro-batch.
        The file is written and committed without Spark, inside the
        measured window: the running query starts the batch as soon as
        the commit lands."""
        name = f"chg-{uuid.uuid4().hex}.parquet"
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(("k", "seq", "v", "del"), r)) for r in rows],
                pa.schema([("k", pa.int64()), ("seq", pa.int64()),
                           ("v", pa.string()), ("del", pa.bool_())]),
            ),
            os.path.join(src, name),
        )
        add = {"path": name, "partitionValues": {}, "dataChange": True,
               "size": os.path.getsize(os.path.join(src, name)), "modificationTime": 0}
        log.commit(log.latest_version(), [{"add": add}], "WRITE")
        query.processAllAvailable()

    jobs, executions, commands = [], [], []

    def measured(rows):
        jobs.append(spark_jobs(
            spark, lambda: commands.append(py4j_commands(spark, lambda: batch(rows)))
        ))

    try:
        for rows in batches:
            executions.append(sql_executions(spark, lambda: measured(rows)))
    finally:
        query.stop()
    sent = commands[1]
    assert (jobs[1], executions[1], sum(sent.values()) - sent["release"]) == (2, 4, 52)
    assert sent["reflection"] == 3
    t = DeltaTable.forPath(spark, dst)
    want = {k: (0, "r") for k in range(100)}
    want.update({1: (2, "b"), 4: (8, "e"), 200: (4, "n"), 201: (10, "o")})
    for k in (2, 3):
        del want[k]
    assert {r.k: (r.seq, r.v) for r in t.toDF().collect()} == want
    merges = [h for h in t.history().collect() if h["operation"] == "MERGE"]
    assert [h["operationMetrics"]["numTargetFilesAdded"] for h in merges] == ["1", "1"]


def test_null_source_keys_insert_and_never_match(spark, tmpdir_path, join_plan):
    path = os.path.join(tmpdir_path, "n")
    write_delta(
        spark.createDataFrame([(1, "a"), (None, "t")], "k long, v string").coalesce(1),
        path,
    )
    t = DeltaTable.forPath(spark, path)
    src = spark.createDataFrame([(None, "s"), (1, "b"), (None, "s2")], "k long, v string")
    _upsert(t, src, allow_multiple_matches=True)
    got = sorted((tuple(r) for r in t.toDF().collect()), key=str)
    assert got == sorted([(1, "b"), (None, "t"), (None, "s"), (None, "s2")], key=str)


def test_empty_source_changes_nothing(spark, tmpdir_path, join_plan):
    t = _kv(spark, tmpdir_path)
    _upsert(t, spark.createDataFrame([], "k long, v long"), allow_multiple_matches=True)
    assert _rows(t) == [(i, i) for i in range(100)]
    m = _last_metrics(t)
    assert (m["numTargetFilesRemoved"], m["numTargetFilesAdded"]) == ("0", "0")


def test_source_of_new_keys_only_inserts(spark, tmpdir_path, join_plan):
    """No candidate row matches: nothing is rewritten, the inserts are
    one file."""
    t = _kv(spark, tmpdir_path)
    src = spark.createDataFrame([(500 + i, i) for i in range(20)], "k long, v long")
    _upsert(t, src, allow_multiple_matches=True)
    assert _rows(t) == sorted(
        [(i, i) for i in range(100)] + [(500 + i, i) for i in range(20)]
    )
    m = _last_metrics(t)
    assert (m["numTargetFilesRemoved"], m["numTargetFilesAdded"]) == ("0", "1")
    assert m["numTargetRowsInserted"] == "20"


def test_more_matches_than_the_cap_fall_back_to_full_outer(
    spark, tmpdir_path, monkeypatch
):
    monkeypatch.setattr(merge_mod, "_MAX_INSERT_FILTER_IDS", 2)
    t = _kv(spark, tmpdir_path)
    src = spark.createDataFrame(
        [(k, k * 10) for k in (1, 2, 3)] + [(500, 1)], "k long, v long"
    )
    plan = _write_plan(
        executed_plans(spark, lambda: _upsert(t, src, allow_multiple_matches=True))
    )
    assert "FullOuter" in plan
    assert _rows(t) == sorted(
        [(i, i * 10 if i in (1, 2, 3) else i) for i in range(100)] + [(500, 1)]
    )


def test_source_known_too_large_keeps_the_full_outer_rewrite(spark, tmpdir_path):
    """A file-scan source has a size estimate before the probe; over the
    threshold, the probe stays a semi join (no matched ids collected)
    and the rewrite the full outer join."""
    t = _kv(spark, tmpdir_path)
    src = _kv(spark, tmpdir_path, name="src").toDF().filter("k < 3")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "100b")
    try:
        plans = executed_plans(
            spark, lambda: _upsert(t, src, allow_multiple_matches=True)
        )
    finally:
        spark.conf.set(key, old)
    assert any("LeftSemi" in p for p in plans)
    assert "FullOuter" in _write_plan(plans)
    assert _rows(t) == [(i, i) for i in range(100)]


def test_delete_only_merge_with_repeated_keys(spark, tmpdir_path, join_plan):
    """The sole unconditional delete allows multiple matches, so it
    takes the broadcast rewrite when broadcasts are on."""
    t = _kv(spark, tmpdir_path, files=2)
    dup = spark.createDataFrame([(5, 1), (5, 2), (70, 3)], "k long, v long")
    plan = _write_plan(
        executed_plans(
            spark,
            lambda: t.alias("t").merge(dup.alias("s"), "t.k = s.k")
            .whenMatchedDelete()
            .execute(),
        )
    )
    assert ("FullOuter" in plan) == (join_plan == "sort_merge")
    assert _rows(t) == [(i, i) for i in range(100) if i not in (5, 70)]


# -- sink-shaped clauses against a model ---------------------------------

KEYS = st.one_of(st.none(), st.integers(min_value=0, max_value=5))
TARGET = st.lists(st.tuples(KEYS, st.integers(0, 3)), max_size=6)
SOURCE = st.lists(st.tuples(KEYS, st.integers(0, 6), st.booleans()), max_size=6)


def _model(target, source):
    """Guarded delete, then guarded update, then insert of the rows not
    marked deleted; one output row per (target row, matching source
    row), as ``allow_multiple_matches=True`` promises."""
    out = []
    for tk, tseq in target:
        matches = [s for s in source if tk is not None and s[0] == tk]
        if not matches:
            out.append((tk, tseq, "t"))
        for sk, sseq, dl in matches:
            if sseq >= tseq and dl:
                continue
            out.append((tk, sseq, "s") if sseq >= tseq else (tk, tseq, "t"))
    for sk, sseq, dl in source:
        if not dl and not any(sk is not None and sk == tk for tk, _ in target):
            out.append((sk, sseq, "s"))
    return sorted(out, key=str)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(target=TARGET, source=SOURCE)
def test_sink_shaped_merge_matches_model(spark, tmpdir_path, join_plan, target, source):
    import uuid

    path = os.path.join(tmpdir_path, uuid.uuid4().hex)
    write_delta(
        spark.createDataFrame(
            [(k, seq, "t") for k, seq in target], "k int, seq int, v string"
        ).coalesce(1),
        path,
    )
    t = DeltaTable.forPath(spark, path)
    src = spark.createDataFrame(
        [(k, seq, "s", dl) for k, seq, dl in source],
        "k int, seq int, v string, del boolean",
    )
    guard = "coalesce(s.seq >= t.seq, true)"
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedDelete(f"coalesce(s.del, false) and {guard}")
        .whenMatchedUpdate(guard, {"seq": "s.seq", "v": "s.v"})
        .whenNotMatchedInsert(
            "not coalesce(s.del, false)", {"k": "s.k", "seq": "s.seq", "v": "s.v"}
        )
        .execute(allow_multiple_matches=True)
    )
    assert sorted((tuple(r) for r in t.toDF().collect()), key=str) == _model(
        target, source
    )
