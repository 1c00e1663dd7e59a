"""The gateway helpers (``jodie_spark/tables/gateway.py``) look the JVM
methods plan building needs up once per py4j gateway and build the
plans PySpark's own calls build. One-file DML sends no reflection
command at all; these tests pin that and compare each helper's plan
with PySpark's."""

import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import py4j_commands
from jodie_spark.tables import gateway
from jodie_spark.tables.table import DeltaTable, write_delta


def _kv(spark, tmpdir_path, name="t"):
    path = os.path.join(tmpdir_path, name)
    write_delta(spark.range(100).selectExpr("id AS k", "id AS v").coalesce(1), path)
    return DeltaTable.forPath(spark, path)


def _upsert(t, src):
    (
        t.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdate(set={"v": "s.v"})
        .whenNotMatchedInsertAll()
        .execute()
    )


@pytest.mark.parametrize("op", ["delete", "update", "upsert", "mor_delete", "mor_update"])
def test_one_file_dml_sends_no_reflection(spark, tmpdir_path, op):
    """Every JVM class and method a one-file DML names was looked up
    when the gateway was first used: scans, projections, observations
    and their reads, the merge's joins and the deletion-vector UDF. The
    commands left are calls, and Seqs built from Python lists."""
    t = _kv(spark, tmpdir_path)
    src = spark.sql("SELECT * FROM VALUES (5L, 50L), (500L, 1L) AS s(k, v)")
    run = {
        "delete": lambda: t.delete("k = 5"),
        "update": lambda: t.update("k = 5", {"v": "v + 1000"}),
        "upsert": lambda: _upsert(t, src),
        "mor_delete": lambda: t.delete("k = 5", deletion_vectors=True),
        "mor_update": lambda: t.update("k = 5", {"v": "v + 1000"}, deletion_vectors=True),
    }[op]
    assert py4j_commands(spark, run)["reflection"] == 0
    assert t.deltaLog.latest_version() == 1


def test_lookups_are_kept_per_gateway(spark):
    """One set of lookups per gateway object, made once."""
    methods = gateway.jvm_methods(spark)
    assert gateway.jvm_methods() is methods
    assert gateway._METHODS[spark.sparkContext._gateway] is methods
    other = spark.newSession()
    got = py4j_commands(spark, lambda: gateway.jvm_methods(other))
    assert sum(got.values()) == 0


def _analyzed(df) -> str:
    """The analyzed plan's text, expression ids left out."""
    return re.sub(r"#\d+", "#", df._jdf.queryExecution().analyzed().toString())


def test_helpers_build_pysparks_plans(spark):
    """Each helper's plan is the one PySpark's own call builds."""
    df = spark.range(6).selectExpr("id AS k", "id % 2 AS g")
    pairs = [
        (gateway.select_expr(df, "k", "g * 2 AS h"), df.selectExpr("k", "g * 2 AS h")),
        (
            df.select(gateway.expr("k + 1 AS k1"), gateway.lit(True), gateway.lit(None)),
            df.select(F.expr("k + 1 AS k1"), F.lit(True), F.lit(None)),
        ),
        (
            df.select(gateway.function("struct", [df["*"]])),
            df.select(F.struct(df["*"])),
        ),
        (
            df.withColumn("i", gateway.function("monotonically_increasing_id")),
            df.withColumn("i", F.monotonically_increasing_id()),
        ),
        (
            gateway.group_agg(df, ["g", "k"], "count(1) AS n", "max(k) AS m"),
            df.groupBy("g", "k").agg(F.expr("count(1) AS n"), F.expr("max(k) AS m")),
        ),
    ]
    for ours, theirs in pairs:
        assert _analyzed(ours) == _analyzed(theirs)
        assert sorted(ours.collect()) == sorted(theirs.collect())


def test_strings_holding_the_separator_take_a_seq(spark):
    """A String[] is one call, split from one string on a NUL character;
    text that holds one reaches the JVM element by element instead."""
    df = spark.range(1)
    got = gateway.select_expr(df, "'a\x00b' AS s", "id")
    assert [tuple(r) for r in got.collect()] == [("a\x00b", 0)]
    sent = py4j_commands(spark, lambda: gateway.select_expr(df, "id", "id + 1 AS j"))
    assert (sent["call"], sent["seq"]) == (2, 0)


def test_observe_reports_one_struct(spark):
    df, obs = gateway.observe(
        spark.range(5), {"n": "count(1)", "odd `name`": "sum(id)"}
    )
    df.write.format("noop").mode("overwrite").save()
    assert gateway.observed(obs) == {"n": 5, "odd `name`": 10}


def test_apply_in_pandas_matches_pysparks(spark):
    import pandas as pd

    def first_and_size(pdf):
        return pd.DataFrame({"g": [pdf["g"].iloc[0]], "n": [len(pdf)]})

    schema = T.StructType([T.StructField("g", T.LongType()), T.StructField("n", T.LongType())])
    df = spark.range(7).selectExpr("id % 3 AS g", "id")
    ours = gateway.apply_in_pandas(df, "g", first_and_size, schema)
    theirs = df.groupBy("g").applyInPandas(first_and_size, schema)
    assert ours.schema == theirs.schema
    assert sorted(ours.collect()) == sorted(theirs.collect()) == [(0, 3), (1, 2), (2, 2)]


def test_load_matches_the_reader(spark, tmpdir_path):
    base = os.path.join(tmpdir_path, "p")
    spark.range(4).selectExpr("id AS k", "id % 2 AS p").write.partitionBy("p").parquet(base)
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("p", T.IntegerType())])
    paths = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs if f.endswith(".parquet")
    )
    reader = gateway.parquet_reader(spark, base, schema)
    theirs = spark.read.format("parquet").option("basePath", base).schema(schema)
    for got, want in (
        (gateway.load(spark, reader, paths), theirs.load(paths)),
        (gateway.load(spark, reader, paths[:1]), theirs.load(paths[0])),
        (gateway.load(spark, reader, []), theirs.load()),
    ):
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())
