"""Touched-file probes observe the file set instead of shuffling it:
DELETE/UPDATE over one small candidate file skip the probe (the
rewrite's observed match count decides), over more files they find
their files in one Spark job, MERGE finds them in one aggregation, a
missing observation refuses instead of reading as "no files" or "no
matches", and the multiple-match guard still fires. DELETE/UPDATE
rewrites are SQL text, so user fragments, Column values and casts
survive them. The streaming merge sink quotes every name it embeds."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import parquet_files, py4j_round_trips, session_conf, spark_jobs
from jodie_spark.errors import DeltaProtocolError, MergeMultipleMatchesError
from jodie_spark.operators.cdf import read_cdf
from jodie_spark.tables.gateway import Observation, observe
from jodie_spark.tables.table import DeltaTable, observed_file_uris, write_delta


OPEN_COST = "spark.sql.files.openCostInBytes"


def _kv(spark, tmpdir_path, name="t", files=1, options=None):
    """k = v = 0..99, range-partitioned into ``files`` data files."""
    path = os.path.join(tmpdir_path, name)
    write_delta(
        spark.range(100).selectExpr("id AS k", "id AS v").repartitionByRange(files, "k"),
        path,
        options=options,
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


@pytest.mark.parametrize("op", ["delete", "update"])
def test_dml_over_one_candidate_file_runs_one_job(spark, tmpdir_path, op):
    """The rewrite alone: the probe (one observed scan) made it two,
    distinct() three."""
    t = _kv(spark, tmpdir_path)
    if op == "delete":
        jobs = spark_jobs(spark, lambda: t.delete("k = 5"))
        assert _rows(t) == [(i, i) for i in range(100) if i != 5]
    else:
        jobs = spark_jobs(spark, lambda: t.update("k = 5", {"v": "v + 1000"}))
        assert _rows(t) == [(i, i + 1000 * (i == 5)) for i in range(100)]
    assert jobs == 1


def test_merge_probe_is_one_job_lighter(spark, tmpdir_path):
    """Multiple-match check on: the probe is one noop action (join,
    one per-row count shuffle, result), not two aggregations and a
    collect. Pinned at the measured count, one below the old 8. The
    ``createDataFrame`` source has no size estimate, so this one-file
    merge keeps the probe (a sized source runs no probe: 1 job, see
    ``test_single_file_merge.py``)."""
    t = _kv(spark, tmpdir_path)
    src = spark.createDataFrame([(5, 50), (500, 1)], "k long, v long")
    assert spark_jobs(spark, lambda: _upsert(t, src)) == 7
    assert _rows(t) == sorted(
        [(i, 50 if i == 5 else i) for i in range(100)] + [(500, 1)]
    )


@pytest.fixture(params=["broadcast", "sort_merge"])
def join_plan(request, spark):
    """Run the test under the default (broadcast) join plan and with
    broadcasts off (sort-merge joins, a shuffle on both sides)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if request.param == "sort_merge":
        spark.conf.set(key, "-1")
    yield request.param
    spark.conf.set(key, old)


def test_multiple_matches_still_raise(spark, tmpdir_path, join_plan):
    t = _kv(spark, tmpdir_path, files=2)
    dup = spark.createDataFrame([(5, 1), (5, 2), (70, 3)], "k long, v long")
    with pytest.raises(MergeMultipleMatchesError):
        _upsert(t, dup)
    assert t.deltaLog.latest_version() == 0
    # the sole matched clause is an unconditional delete: the result is
    # deterministic, so duplicates are allowed
    t.alias("t").merge(dup.alias("s"), "t.k = s.k").whenMatchedDelete().execute()
    assert _rows(t) == [(i, i) for i in range(100) if i not in (5, 70)]


def test_by_source_clauses_find_their_files(spark, tmpdir_path):
    """Matched files and files of unmatched rows a by-source clause
    hits are found by the same action; the by-source rows (many per
    file) never count as multiple matches."""
    t = _kv(spark, tmpdir_path, files=4)
    src = spark.createDataFrame([(5, 50)], "k long, v long")

    def merge():
        (
            t.alias("t").merge(src.alias("s"), "t.k = s.k")
            .whenMatchedUpdate(set={"v": "s.v"})
            .whenNotMatchedBySourceDelete("t.k >= 90 -- stale")
            .execute()
        )

    assert spark_jobs(spark, merge) == 10
    assert _rows(t) == [(i, 50 if i == 5 else i) for i in range(90)]
    m = _last_metrics(t)
    assert (m["numTargetFilesRemoved"], m["numTargetRowsDeleted"]) == ("2", "10")


def test_empty_source_and_false_condition_touch_nothing(spark, tmpdir_path, join_plan):
    """The observation is still reported (as an empty set) when the
    source is empty — AQE replaces the join with an empty relation —
    and when the filter folds to false."""
    t = _kv(spark, tmpdir_path)
    scan = t.toDF().withColumn("__f__", F.input_file_name())
    assert observed_file_uris(scan.filter("1 = 0"), "__f__") == set()
    assert observed_file_uris(scan.limit(0), "__f__") == set()
    assert len(observed_file_uris(scan, "__f__")) == 1

    empty = spark.createDataFrame([], "k long, v long")
    _upsert(t, empty)
    (
        t.alias("t").merge(empty.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": "s.v"})
        .whenNotMatchedBySourceDelete("t.k > 1000")
        .execute(allow_multiple_matches=True)
    )
    t.delete("k = 5 AND 1 = 0")
    t.update("k = 5 AND false", {"v": "0"})
    assert _rows(t) == [(i, i) for i in range(100)]
    assert t.deltaLog.latest_version() == 4
    for op in t.history().collect()[:4]:
        removed = op["operationMetrics"].get("numRemovedFiles") or op[
            "operationMetrics"
        ].get("numTargetFilesRemoved")
        assert removed == "0", op["operation"]


def test_dropped_observation_reads_as_zero_or_refuses(spark, tmpdir_path):
    """An observation under a shuffle is dropped when AQE folds the join
    above an empty side away. Of the readers of the one struct metric
    (``observe``), the zero-filling one reads it as zeros, the raising
    one refuses, and the source-row count counts instead. On the probe
    path a merge of an empty source, or of one no target row matches,
    drops its source observation that way; its metrics stay exact."""
    from jodie_spark.tables.merge import _observed, _source_rows
    from jodie_spark.tables.table import observation_values

    empty = spark.createDataFrame([], "k long, v long")
    observed, obs = observe(empty, {"numSourceRows": "count(1)", "ks": "collect_set(k)"})
    (
        spark.range(10).withColumnRenamed("id", "k").join(observed, "k")
        .groupBy("k").count().write.format("noop").mode("overwrite").save()
    )
    assert _observed(obs, ["numSourceRows"]) == {"numSourceRows": 0}
    with pytest.raises(DeltaProtocolError, match="observation"):
        observation_values(obs, "probe")
    assert _source_rows(obs, empty) == 0

    t = _kv(spark, tmpdir_path)
    new_keys = spark.createDataFrame([(500, 1), (501, 2)], "k long, v long")
    with session_conf(spark, OPEN_COST, "1b"):
        for src, inserted in ((empty, 0), (new_keys, 2)):
            _upsert(t, src)
            m = _last_metrics(t)
            assert m["numSourceRows"] == m["numTargetRowsInserted"] == str(inserted)
            assert (m["numTargetRowsUpdated"], m["numTargetRowsCopied"]) == ("0", "0")
            assert m["numTargetFilesRemoved"] == "0"
    assert _rows(t) == [(i, i) for i in range(100)] + [(500, 1), (501, 2)]


def test_missing_file_set_observation_refuses(spark, tmpdir_path, monkeypatch):
    """A result without the metric must never read as "no touched
    files" or "no matched rows": DELETE/UPDATE would commit nothing,
    MERGE would re-insert its matched rows as duplicates. Checked with
    the one file under the single-pass bound (the rewrite's observation
    refuses) and over it (a 1-byte open cost: the probe's refuses). The
    refusal comes before the commit, so the rewrite's files are
    deleted."""
    t = _kv(spark, tmpdir_path)
    before = parquet_files(t.path)
    src = spark.createDataFrame([(5, 50)], "k long, v long")
    for cost in (spark.conf.get(OPEN_COST), "1b"):
        with session_conf(spark, OPEN_COST, cost):
            monkeypatch.setattr(Observation, "get", property(lambda self: {}))
            with pytest.raises(DeltaProtocolError, match="observation"):
                t.delete("k = 5")
            with pytest.raises(DeltaProtocolError, match="observation"):
                t.update("k = 5", {"v": "0"})
            with pytest.raises(DeltaProtocolError, match="observation"):
                _upsert(t, src)
            monkeypatch.undo()
        assert t.deltaLog.latest_version() == 0
        assert _rows(t) == [(i, i) for i in range(100)]
        assert parquet_files(t.path) == before


def test_column_mapping_id_delete_and_merge(spark, tmpdir_path):
    """mode=id scans run in the field-id child session; the probe's
    action runs there too, which is where its observation fires."""
    from test_table import _mk_id_mapped_table

    t = DeltaTable.forPath(spark, _mk_id_mapped_table(tmpdir_path, spark))
    t.delete("id = 1")
    src = spark.createDataFrame([(2,), (4,)], "id long")
    (
        t.alias("t").merge(src.alias("s"), "t.id = s.id")
        .whenMatchedUpdate(set={"part": "'z'"})
        .whenNotMatchedInsert(values={"id": "s.id", "part": "'n'"})
        .execute()
    )
    got = sorted(
        (r["id"], r["info"] and r["info"]["score"], r["part"])
        for r in t.toDF().collect()
    )
    assert got == [(2, 1.0, "z"), (3, 1.5, "y"), (4, None, "n")]


def test_dml_fragments_with_trailing_line_comments(spark, tmpdir_path):
    """Conditions and SET values are embedded as ``(<frag>\\n)``: a
    trailing ``--`` comment ends before the generated text resumes —
    in the rewrite, the observed counts and both change-feed legs."""
    t = _kv(spark, tmpdir_path, options={"delta.enableChangeDataFeed": "true"})
    t.update("k = 1 -- first row", {"v": "v + 100 -- bump"})
    t.delete("k = 2 -- second row")
    assert _rows(t) == [(i, i + 100 * (i == 1)) for i in range(100) if i != 2]
    assert _last_metrics(t)["numDeletedRows"] == "1"
    assert t.history().collect()[1]["operationMetrics"]["numUpdatedRows"] == "1"
    changes = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in read_cdf(spark, t.path, 1, 2).collect()
    )
    assert changes == [
        (1, "update_postimage", 1, 101),
        (1, "update_preimage", 1, 1),
        (2, "delete", 2, 2),
    ]


def test_update_with_column_valued_assignments(spark, tmpdir_path):
    """A Column value travels in a hidden column evaluated on matched
    rows only: under ANSI mode 10 / k would raise on the k = 0 row."""
    t = _kv(spark, tmpdir_path)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        t.update("k BETWEEN 1 AND 2", {"v": (F.lit(10) / F.col("k")).cast("long")})
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    t.update(None, {"v": F.col("v") + F.col("k")})
    assert _rows(t) == [
        (i, {1: 10, 2: 5}.get(i, i) + i) for i in range(100)
    ]


def test_update_value_needing_a_cast_keeps_the_column_type(spark, tmpdir_path):
    """A wider value (bigint, decimal, string) is cast to the column's
    type, so the rewritten file stays readable; it used to be written
    at the value's type, which no later scan could read."""
    path = os.path.join(tmpdir_path, "narrow")
    write_delta(spark.createDataFrame([(1, 10), (2, 20)], "k long, v int"), path)
    t = DeltaTable.forPath(spark, path)
    t.update("k = 1", {"v": "v + 1L"})
    t.update("k = 2", {"v": "'7'"})
    t.update("k = 1", {"v": "v * 2.5"})
    assert _rows(t) == [(1, 27), (2, 7)]
    assert t.toDF().schema["v"].dataType.simpleString() == "int"
    for a in t.deltaLog.snapshot().iter_adds():
        assert str(pq.read_schema(os.path.join(path, a["path"])).field("v").type) == "int32"


def test_stream_merge_sink_quotes_column_names(spark, tmpdir_path):
    """Keys, sequence and delete columns whose names need backticks:
    within-batch last-wins by sequence, cross-batch stale changes are
    no-ops, deletes apply."""
    from jodie_spark.sources.datasource import register
    from jodie_spark.streaming.delta_sink import write_stream_merge_to_delta

    register(spark)
    src = os.path.join(tmpdir_path, "src")
    dst = os.path.join(tmpdir_path, "dst")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    ddl = "`user-id` int, `v al` string, `seq-no` int, `is-deleted` boolean"

    def run(rows, mode):
        write_delta(spark.createDataFrame(rows, ddl), src, mode=mode)
        q = write_stream_merge_to_delta(
            spark.readStream.format("jodie_delta").load(src),
            dst,
            ckpt,
            keys=["user-id"],
            sequence_col="seq-no",
            delete_col="is-deleted",
            available_now=True,
        )
        q.awaitTermination(120)
        return {
            r["user-id"]: (r["v al"], r["seq-no"])
            for r in DeltaTable.forPath(spark, dst).toDF().collect()
        }

    got = run(
        [(1, "old", 1, False), (1, "new", 2, False), (2, "b", 1, False),
         (3, "c", 1, False)],
        "overwrite",
    )
    assert got == {1: ("new", 2), 2: ("b", 1), 3: ("c", 1)}
    got = run(
        [(1, "stale", 1, False), (2, None, 5, True), (3, "c2", 4, False),
         (3, "c3", 6, False), (4, "d", 1, False), (4, None, 2, True)],
        "append",
    )
    assert got == {1: ("new", 2), 3: ("c3", 6)}
