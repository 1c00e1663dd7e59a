"""Prepared scans: every log-driven parquet scan goes through
``scan_parquet``, which keeps one set-up reader per (JVM session, table
root, schema) in one bounded cache and projects to schema order only
where Spark's own column order can differ (``key=value`` directories).
These tests pin the py4j round trips that buys and check that a cached
reader never serves a stale schema, another table or another session,
and that every Python wrapper of one session shares it."""

import os
import shutil
import sys
import threading

import pytest

from conftest import py4j_round_trips
from jodie_spark.tables import table as table_mod
from jodie_spark.tables.gateway import session_key
from jodie_spark.tables.table import DeltaTable, read_files_df, scan_parquet, write_delta
from test_table import _mk_id_mapped_table


def _kv(spark, tmpdir_path, name="t", lo=0, n=100):
    path = os.path.join(tmpdir_path, name)
    write_delta(
        spark.range(lo, lo + n).selectExpr("id AS k", "id AS v").coalesce(1), path
    )
    return DeltaTable.forPath(spark, path)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _readers(spark):
    """The prepared readers of ``spark``'s JVM session, by (table root,
    schema json)."""
    key = session_key(spark)
    return {k[1:]: r for k, r in table_mod._SCAN_READERS.items.items() if k[0] == key}


def _field_id_session(spark):
    return table_mod._FID_SESSIONS.items[session_key(spark)]


def _upsert(t, src):
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": "s.v"})
        .whenNotMatchedInsertAll()
        .execute()
    )


def _by_source(t, src):
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": "s.v"})
        .whenNotMatchedBySourceDelete("t.k > 90")
        .execute()
    )


def test_repeat_scan_of_one_file_costs_one_round_trip(spark, tmpdir_path):
    """The repeat scan pays only the load of its one path, passed as a
    string; building the reader, parsing the schema and a no-op reorder
    cost 16 more."""
    t = _kv(spark, tmpdir_path)
    t.toDF()
    assert py4j_round_trips(spark, t.toDF) == 1
    assert _rows(t.toDF()) == [(i, i) for i in range(100)]


def test_repeat_scan_of_many_files_costs_two_round_trips(spark, tmpdir_path):
    """A path list is one ``String[]``, split on the JVM side from one
    string, whatever its length: the split and the load. As a Python
    list it cost the list, one ``add`` per path and ``toSeq``."""
    path = os.path.join(tmpdir_path, "many")
    write_delta(spark.range(80).selectExpr("id AS k").repartition(8), path)
    t = DeltaTable.forPath(spark, path)
    assert len(t.snapshot().add_files()) == 8
    t.toDF()
    assert py4j_round_trips(spark, t.toDF) == 2
    assert _rows(t.toDF()) == [(i,) for i in range(80)]


@pytest.mark.parametrize(
    "op, want",
    [
        pytest.param("delete", 16, id="delete"),
        pytest.param("update", 17, id="update"),
        pytest.param("upsert", 48, id="upsert"),
        pytest.param("by_source", 42, id="by_source"),
        pytest.param("upsert_unsized", 69, id="upsert_unsized"),
    ],
)
def test_dml_round_trips_pinned(spark, tmpdir_path, op, want):
    """py4j round trips of one DML over a one-file table, pinned at the
    measured counts: the probe and the rewrite scan share one prepared
    reader (built inside the count: each test has its own table), and
    neither projects. DELETE/UPDATE over one small file run no probe,
    only the rewrite. So does a merge whose source Spark sizes as small;
    a ``createDataFrame`` source, which Spark cannot size, keeps the
    probe and pays for the size check. A merge stages its clause
    indexes and actions in one ``selectExpr`` and observes each action's
    metrics as one struct column; a one-path scan loads a string. Every
    JVM method is looked up once per gateway (``tables/gateway.py``),
    and a list of strings reaches the JVM as one ``String[]``."""
    t = _kv(spark, tmpdir_path)
    src = spark.sql("SELECT * FROM VALUES (5L, 50L), (500L, 1L) AS s(k, v)")
    unsized = spark.createDataFrame([(5, 50), (500, 1)], "k long, v long")
    run = {
        "delete": lambda: t.delete("k = 5"),
        "update": lambda: t.update("k = 5", {"v": "v + 1000"}),
        "upsert": lambda: _upsert(t, src),
        "by_source": lambda: _by_source(t, src),
        "upsert_unsized": lambda: _upsert(t, unsized),
    }[op]
    assert py4j_round_trips(spark, run) == want
    want_rows = {
        "delete": [(i, i) for i in range(100) if i != 5],
        "update": [(i, i + 1000 * (i == 5)) for i in range(100)],
        "upsert": [(i, 50 if i == 5 else i) for i in range(100)] + [(500, 1)],
        "upsert_unsized": [(i, 50 if i == 5 else i) for i in range(100)] + [(500, 1)],
        "by_source": [(i, 50 if i == 5 else i) for i in range(91)],
    }[op]
    assert _rows(t.toDF()) == sorted(want_rows)


def test_partition_column_first_reads_in_schema_order(spark, tmpdir_path):
    path = os.path.join(tmpdir_path, "p")
    df = spark.range(8).selectExpr("id % 2 AS p", "id AS k", "id * 10 AS v")
    write_delta(df, path, partition_by=["p"])
    t = DeltaTable.forPath(spark, path)
    for _ in range(2):  # cold reader, then the prepared one
        got = t.toDF()
        assert got.columns == ["p", "k", "v"]
        assert _rows(got) == sorted((i % 2, i, i * 10) for i in range(8))


def test_unpartitioned_add_under_key_value_dir_adds_no_column(spark, tmpdir_path):
    """Spark's partition discovery would turn ``x=1/`` into a column;
    the scan projects it away because the path has a ``key=value``
    directory, even though the table has no partition columns."""
    t = _kv(spark, tmpdir_path, n=4)
    snap = t.snapshot()
    (add,) = snap.add_files()
    os.makedirs(os.path.join(t.path, "x=1"))
    shutil.copy(os.path.join(t.path, add["path"]), os.path.join(t.path, "x=1", "moved.parquet"))
    moved = {**add, "path": "x=1/moved.parquet"}
    t.deltaLog.commit(
        snap.version,
        [{"remove": {"path": add["path"], "dataChange": True}}, {"add": moved}],
        "WRITE",
    )
    for _ in range(2):
        got = t.toDF()
        assert got.columns == ["k", "v"]
        assert _rows(got) == [(i, i) for i in range(4)]
    t.delete("k = 1")
    assert _rows(t.toDF()) == [(0, 0), (2, 2), (3, 3)]


def test_add_columns_then_read_and_dml_use_the_new_schema(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path, n=3)
    assert _rows(t.toDF()) == [(0, 0), (1, 1), (2, 2)]
    t.add_columns({"note": "string"})
    got = t.toDF()
    assert got.columns == ["k", "v", "note"]
    assert _rows(got) == [(0, 0, None), (1, 1, None), (2, 2, None)]
    t.update("k = 1", {"note": "'one'"})
    assert _rows(t.toDF()) == [(0, 0, None), (1, 1, "one"), (2, 2, None)]
    assert (t.path, t.schema().json()) in _readers(spark)


def test_type_widening_then_read_and_dml_use_the_new_schema(spark, tmpdir_path):
    path = os.path.join(tmpdir_path, "w")
    write_delta(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"),
        path,
        options={"delta.enableTypeWidening": "true"},
    )
    t = DeltaTable.forPath(spark, path)
    assert _rows(t.toDF()) == [(1, 10), (2, 20)]
    write_delta(
        spark.createDataFrame([(2**40, 30)], "k long, v int"),
        path,
        mode="append",
        options={"mergeSchema": "true"},
    )
    got = t.toDF()
    assert got.schema["k"].dataType.typeName() == "long"
    assert _rows(got) == [(1, 10), (2, 20), (2**40, 30)]
    t.update("k = 1", {"k": f"k + {2**41}"})
    t.delete("k = 2")
    assert _rows(t.toDF()) == [(2**40, 30), (2**41 + 1, 10)]


def test_two_tables_with_one_schema_read_their_own_files(spark, tmpdir_path):
    a = _kv(spark, tmpdir_path, "a", lo=0, n=3)
    b = _kv(spark, tmpdir_path, "b", lo=10, n=3)
    for _ in range(2):
        assert _rows(a.toDF()) == [(0, 0), (1, 1), (2, 2)]
        assert _rows(b.toDF()) == [(10, 10), (11, 11), (12, 12)]
    a.delete("k = 1")
    assert _rows(a.toDF()) == [(0, 0), (2, 2)]
    assert _rows(b.toDF()) == [(10, 10), (11, 11), (12, 12)]


def test_new_session_builds_its_own_readers(spark, tmpdir_path):
    """A reader prepared in one JVM session is never handed to another:
    ``spark.newSession()`` is a new JVM session, with its own conf."""
    t = _kv(spark, tmpdir_path, n=3)
    t.toDF()
    other = spark.newSession()
    df = DeltaTable.forPath(other, t.path).toDF()
    assert df.sparkSession is other
    assert df._jdf.sparkSession().sessionUUID() == other._jsparkSession.sessionUUID()
    assert _rows(df) == [(0, 0), (1, 1), (2, 2)]
    mine = {id(r) for r in _readers(spark).values()}
    assert _readers(other) and not mine & {id(r) for r in _readers(other).values()}


def test_foreach_batch_wrappers_share_one_reader(spark, tmpdir_path):
    """foreachBatch hands each micro-batch a new Python wrapper of the
    query's one JVM session: the second batch's scan finds the reader
    the first batch prepared and pays only its load."""
    from pyspark.sql import SparkSession

    t = _kv(spark, tmpdir_path, n=3)
    feed = os.path.join(tmpdir_path, "feed")
    for i in range(2):
        spark.range(i, i + 1).coalesce(1).write.mode("append").parquet(feed)
    key = (t.path, t.schema().json())
    seen = []

    def each(batch_df, batch_id):
        session = batch_df.sparkSession
        DeltaTable.forPath(session, t.path).toDF()  # asks the session key
        repeat = py4j_round_trips(
            session, lambda: DeltaTable.forPath(session, t.path).toDF()
        )
        df = DeltaTable.forPath(session, t.path).toDF()
        seen.append((session, _readers(session)[key], repeat, _rows(df)))

    query = (
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(feed)
        .writeStream.foreachBatch(each)
        .option("checkpointLocation", os.path.join(tmpdir_path, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination(120)
    finally:
        query.stop()
    assert len(seen) == 2
    (first, reader, _, rows), (second, again, repeat, rows_again) = seen
    assert isinstance(second, SparkSession) and second is not first
    assert session_key(second) == session_key(first)
    assert again is reader
    assert repeat == 1
    assert rows == rows_again == [(0, 0), (1, 1), (2, 2)]


def test_reader_cache_is_bounded(spark, tmpdir_path):
    other = spark.newSession()
    schema = spark.range(1).schema
    for i in range(table_mod._SCAN_READERS_MAX + 5):
        os.makedirs(os.path.join(tmpdir_path, f"t{i}"))
        scan_parquet(other, [], schema, os.path.join(tmpdir_path, f"t{i}"))
    cache = _readers(other)
    assert len(cache) == table_mod._SCAN_READERS_MAX
    assert (os.path.join(tmpdir_path, "t0"), schema.json()) not in cache


def test_concurrent_scans_keep_the_cache_consistent(spark, tmpdir_path):
    """A streaming sink's foreachBatch scans from its own thread: more
    threads than cores hit one session's cache, with evictions."""
    other = spark.newSession()
    schema = spark.range(1).schema
    bases = [os.path.join(tmpdir_path, f"c{i}") for i in range(table_mod._SCAN_READERS_MAX + 8)]
    for b in bases:
        os.makedirs(b)
    errors, columns = [], []

    def worker(n):
        try:
            for b in bases[n::3] + bases[::-5]:
                columns.append(scan_parquet(other, [], schema, b).columns)
        except Exception as e:  # collected for the assert below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(n,)) for n in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert columns and all(c == ["id"] for c in columns)
    assert len(_readers(other)) == table_mod._SCAN_READERS_MAX


def test_mode_id_read_delete_and_merge_match_by_field_id(spark, tmpdir_path):
    """The prepared readers of a mode=id table live on the field-id
    child session; repeat DML through them still resolves by id."""
    t = DeltaTable.forPath(spark, _mk_id_mapped_table(tmpdir_path, spark))

    def rows():
        return sorted(
            (r["id"], r["info"] and r["info"]["score"], r["part"])
            for r in t.toDF().collect()
        )

    assert rows() == [(1, 0.5, "x"), (2, 1.0, "x"), (3, 1.5, "y")]
    t.delete("id = 1")
    t.delete("id = 3")
    assert rows() == [(2, 1.0, "x")]
    for part in ("z", "w"):
        src = spark.createDataFrame([(2,), (4,)], "id long")
        (
            t.alias("t").merge(src.alias("s"), "t.id = s.id")
            .whenMatchedUpdate(set={"part": f"'{part}'"})
            .whenNotMatchedInsert(values={"id": "s.id", "part": "'n'"})
            .execute()
        )
    assert rows() == [(2, 1.0, "w"), (4, None, "w")]
    assert _readers(_field_id_session(spark))


def test_field_id_session_sets_only_changed_confs(spark, tmpdir_path):
    """A parent conf change reaches the next mode=id scan with one
    ``set``; unchanged confs are read but not set again."""
    t = DeltaTable.forPath(spark, _mk_id_mapped_table(tmpdir_path, spark))
    t.toDF()
    child = _field_id_session(spark)
    steady = py4j_round_trips(spark, t.toDF)
    key = "spark.sql.session.timeZone"
    tz = spark.conf.get(key)
    new = "America/Los_Angeles" if tz != "America/Los_Angeles" else "UTC"
    try:
        spark.conf.set(key, new)
        changed = py4j_round_trips(spark, t.toDF)
        assert child.conf.get(key) == new
        assert child.sql("SELECT current_timezone()").first()[0] == new
    finally:
        spark.conf.set(key, tz)
    assert changed == steady + 1
    t.toDF()
    assert child.conf.get(key) == tz


def test_empty_scan_keeps_columns_and_types(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path, n=3)
    schema = t.schema()
    read_files_df(spark, t.path, schema, [])
    assert py4j_round_trips(spark, lambda: read_files_df(spark, t.path, schema, [])) == 1
    df = read_files_df(spark, t.path, schema, [])
    assert df.collect() == []
    assert df.dtypes == spark.createDataFrame([], schema).dtypes
