"""MERGE lowers every clause to SQL text: hostile names and user
fragments survive it, assignment keys resolve like Spark's resolver,
Column-object assignments run only on their own clause's rows, and a
star clause costs about the same py4j round trips as its string form."""

import os

import pytest
from pyspark.sql import functions as F

from conftest import py4j_round_trips
from jodie_spark import sql
from jodie_spark.errors import JodieValidationError
from jodie_spark.operators.cdf import read_cdf
from jodie_spark.tables.table import DeltaTable, write_delta


def _kv(spark, tmpdir_path, rows, name="t", options=None):
    path = os.path.join(tmpdir_path, name)
    write_delta(spark.createDataFrame(rows, "k long, v long"), path, options=options)
    return DeltaTable.forPath(spark, path)


def _rows(t):
    return sorted(tuple(r) for r in t.toDF().collect())


def test_merge_into_table_with_quoted_nested_field_name(spark, tmpdir_path):
    """A nested struct field whose name needs backticks: the output CAST
    and SHOW CREATE TABLE both render it quoted, so both parse."""
    path = os.path.join(tmpdir_path, "nested")
    write_delta(
        spark.createDataFrame(
            [(1, (5,), 1)], "k long, s struct<`va l`:bigint>, v long"
        ),
        path,
    )
    t = DeltaTable.forPath(spark, path)
    src = spark.createDataFrame([(1, 7), (2, 8)], "k long, v long")
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": "s.v"})
        .whenNotMatchedInsert(values={"k": "s.k", "v": "s.v"})
        .execute()
    )
    got = [(r.k, r.s and r.s["va l"], r.v) for r in t.toDF().orderBy("k").collect()]
    assert got == [(1, 5, 7), (2, None, 8)]

    stmt = sql(spark, f"SHOW CREATE TABLE delta.`{path}`").collect()[0][0]
    p2 = os.path.join(tmpdir_path, "nested2")
    sql(spark, stmt.replace(os.path.abspath(path), p2))
    assert DeltaTable.forPath(spark, p2).schema() == t.schema()


def test_merge_fragments_with_trailing_line_comments(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path, [(1, 1), (2, 2), (5, 500)])
    src = spark.createDataFrame([(1, 10), (2, -1), (3, 30)], "k long, v long")
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate("s.v > 0 -- only positives", {"v": "s.v -- new value"})
        .whenNotMatchedInsert("s.v > 0 -- positives", {"k": "s.k", "v": "s.v -- new"})
        .whenNotMatchedBySourceUpdate("t.v > 100 -- stale rows", {"v": "0 -- reset"})
        .execute()
    )
    assert _rows(t) == [(1, 10), (2, 2), (3, 30), (5, 0)]


def test_merge_rejects_assignment_keys_naming_no_column(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path, [(1, 1)])
    src = spark.createDataFrame([(1, 9)], "k long, v long")
    with pytest.raises(JodieValidationError, match="nope"):
        (
            t.alias("t").merge(src.alias("s"), "t.k = s.k")
            .whenMatchedUpdate(set={"nope": "s.v"})
            .execute()
        )
    with pytest.raises(JodieValidationError, match="nope"):
        (
            t.alias("t").merge(src.alias("s"), "t.k = s.k")
            .whenNotMatchedInsert(values={"k": "s.k", "nope": "s.v"})
            .execute()
        )
    assert _rows(t) == [(1, 1)]


def test_merge_assignment_keys_resolve_case_insensitively(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path, [(1, 1)])
    src = spark.createDataFrame([(1, 9), (2, 3)], "k long, v long")
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"V": "s.v"})
        .whenNotMatchedInsert(values={"K": "s.k", "V": "s.v"})
        .execute()
    )
    assert _rows(t) == [(1, 9), (2, 3)]


def test_update_rejects_assignment_keys_naming_no_column(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path, [(1, 1)])
    with pytest.raises(JodieValidationError, match="nope"):
        t.update("k = 1", {"nope": "2"})
    t.update("k = 1", {"V": "2"})
    assert _rows(t) == [(1, 2)]


def test_sql_merge_assignments_qualified_by_target_alias(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path, [(1, 1)])
    spark.createDataFrame([(1, 9), (2, 3)], "k long, v long").createOrReplaceTempView(
        "lowering_src"
    )
    sql(
        spark,
        f"MERGE INTO delta.`{t.path}` AS t USING lowering_src AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET t.v = s.v "
        "WHEN NOT MATCHED THEN INSERT (t.k, t.`v`) VALUES (s.k, s.v)",
    )
    assert _rows(t) == [(1, 9), (2, 3)]


def test_star_merge_aligns_map_and_array_values_by_name(spark, tmpdir_path):
    """Star values align struct fields by name inside map values and
    array elements; a nested name with a quote survives the
    named_struct text."""
    path = os.path.join(tmpdir_path, "nested_star")
    write_delta(
        spark.createDataFrame(
            [(1, {"p": (1, 2)}, [(1, 2)])],
            "k long, m map<string, struct<a:bigint, `it's`:bigint>>,"
            " arr array<struct<a:bigint, b:bigint>>",
        ),
        path,
    )
    t = DeltaTable.forPath(spark, path)
    src = spark.createDataFrame(
        [(1, {"q": (30, 20)}, [(5, 6)]), (2, None, None)],
        "k long, m map<string, struct<`it's`:bigint, a:bigint>>,"
        " arr array<struct<b:bigint, a:bigint>>",
    )
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    got = [
        (
            r.k,
            r.m and {k: v.asDict() for k, v in r.m.items()},
            r.arr and r.arr[0].asDict(),
        )
        for r in t.toDF().orderBy("k").collect()
    ]
    assert got == [
        (1, {"q": {"a": 20, "it's": 30}}, {"a": 6, "b": 5}),
        (2, None, None),
    ]


def test_column_assignments_copy_on_write(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path, [(1, 10), (2, 20)])
    src = spark.createDataFrame([(2, 5), (3, 7)], "k long, v long")
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": F.col("s.v") * 100})
        .whenNotMatchedInsert(values={"k": F.col("s.k"), "v": F.col("s.v") + 1})
        .execute()
    )
    assert _rows(t) == [(1, 10), (2, 500), (3, 8)]


def test_column_assignments_insert_only(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path, [(1, 10), (2, 20)])
    src = spark.createDataFrame([(2, 5), (3, 7)], "k long, v long")
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenNotMatchedInsert(values={"k": F.col("s.k"), "v": F.col("s.v") + 1})
        .execute()
    )
    assert _rows(t) == [(1, 10), (2, 20), (3, 8)]
    m = t.history(1).collect()[0]["operationMetrics"]
    assert m["numTargetRowsInserted"] == "1"


def test_column_assignments_merge_on_read(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path, [(1, 10), (2, 20)])
    src = spark.createDataFrame([(2, 5), (3, 7)], "k long, v long")
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": F.col("s.v") * 100})
        .whenNotMatchedInsert(values={"k": F.col("s.k"), "v": F.col("s.v") + 1})
        .execute(deletion_vectors=True)
    )
    assert _rows(t) == [(1, 10), (2, 500), (3, 8)]
    m = t.history(1).collect()[0]["operationMetrics"]
    assert int(m["numDeletionVectorsAdded"]) == 1
    assert m["numSourceRows"] == "2"


def test_column_assignments_record_change_data(spark, tmpdir_path):
    t = _kv(
        spark,
        tmpdir_path,
        [(1, 10), (2, 20)],
        options={"delta.enableChangeDataFeed": "true"},
    )
    src = spark.createDataFrame([(2, 5), (3, 7)], "k long, v long")
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": F.col("s.v") * 100})
        .whenNotMatchedInsert(values={"k": F.col("s.k"), "v": F.col("s.v") + 1})
        .execute()
    )
    assert _rows(t) == [(1, 10), (2, 500), (3, 8)]
    changes = read_cdf(spark, t.path, 1, 1).collect()
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in changes)
    assert got == [
        (2, 20, "update_preimage"),
        (2, 500, "update_postimage"),
        (3, 8, "insert"),
    ]


def test_column_assignment_evaluated_only_on_its_clause_rows(spark, tmpdir_path):
    """Under ANSI mode s.v / s.d raises on d = 0; those source rows are
    all routed to the insert clause, so the update's Column must never
    be evaluated on them."""
    t = _kv(spark, tmpdir_path, [(1, 10), (2, 20)])
    src = spark.createDataFrame([(2, 10, 2), (3, 5, 0)], "k long, v long, d long")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        (
            t.alias("t").merge(src.alias("s"), "t.k = s.k")
            .whenMatchedUpdate(set={"v": F.col("s.v") / F.col("s.d")})
            .whenNotMatchedInsert(values={"k": "s.k", "v": "s.v"})
            .execute()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert _rows(t) == [(1, 10), (2, 5), (3, 5)]


def test_star_merge_round_trips_match_string_merge(spark, tmpdir_path):
    """A 6-column updateAll/insertAll merge lowers to the same SQL text as
    its string-assignment form; only the source-row struct costs extra
    round trips (the per-field Column chains cost ~250)."""
    cols = ["k"] + [f"c{i}" for i in range(1, 6)]

    def merge(star: bool, name: str):
        path = os.path.join(tmpdir_path, name)
        write_delta(
            spark.range(20).selectExpr(
                "id AS k", *[f"id * {i} AS c{i}" for i in range(1, 6)]
            ),
            path,
        )
        t = DeltaTable.forPath(spark, path)
        src = spark.range(10, 30).selectExpr(
            "id AS k", *[f"id * {i} + 1 AS c{i}" for i in range(1, 6)]
        )
        m = t.alias("t").merge(src.alias("s"), "t.k = s.k")
        if star:
            m = m.whenMatchedUpdateAll().whenNotMatchedInsertAll()
        else:
            assigned = {c: f"s.{c}" for c in cols}
            m = m.whenMatchedUpdate(set=assigned).whenNotMatchedInsert(values=assigned)
        return lambda: m.execute()

    merge(True, "warm_star")()
    merge(False, "warm_text")()
    star = py4j_round_trips(spark, merge(True, "star"))
    text = py4j_round_trips(spark, merge(False, "text"))
    assert star - text <= 10, (star, text)


def test_merge_history_reports_scan_and_rewrite_time(spark, tmpdir_path):
    t = _kv(spark, tmpdir_path, [(1, 1), (2, 2)])
    src = spark.createDataFrame([(2, 20)], "k long, v long")
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": "s.v"})
        .execute()
    )
    m = t.history(1).collect()[0]["operationMetrics"]
    scan, rewrite, total = (
        int(m[k]) for k in ("scanTimeMs", "rewriteTimeMs", "executionTimeMs")
    )
    assert scan > 0 and rewrite > 0
    assert scan + rewrite <= total
