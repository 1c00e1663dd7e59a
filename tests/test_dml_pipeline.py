"""DELETE and UPDATE run one pipeline whose write step is copy-on-write
(rewrite the touched files) or merge-on-read (deletion vectors plus,
for UPDATE, the updated copies). The two write modes must leave the
same rows and change rows and commit the same metric keys, on every
kind of table; UPDATE counts its copied rows from the files it wrote,
wherever the candidate files were planned."""

import os

import pytest
from pyspark.sql import functions as F

from jodie_spark.operators.cdf import read_cdf
from jodie_spark.sources.datasource import register
from jodie_spark.tables import table as tm
from jodie_spark.tables.table import DeltaTable, write_delta
from test_single_file_dml import _id_mapped

OPTIONS = {
    "plain": None,
    "cdf": {"delta.enableChangeDataFeed": "true"},
    "row_tracking": {"delta.enableRowTracking": "true"},
    "name": {"delta.columnMapping.mode": "name"},
    "name_cdf": {"delta.columnMapping.mode": "name", "delta.enableChangeDataFeed": "true"},
}


def _table(spark, path, kind):
    """k = v = 0..99 in two files (one file for ``id``)."""
    if kind == "id":
        return _id_mapped(spark, path)
    write_delta(
        spark.range(100).selectExpr("id AS k", "id AS v").repartitionByRange(2, "k"),
        path,
        options=OPTIONS[kind],
    )
    return DeltaTable.forPath(spark, path)


def _with_row_ids(spark, t):
    register(spark)
    df = spark.read.format("jodie_delta").option("withRowIds", "true").load(t.path)
    return [(r["_row_id"], r["k"], r["v"]) for r in df.collect()]


def _state(spark, t, kind, first_k):
    """Rows, change rows where the table keeps them, and the last
    commit's metric keys. On row tracking each row also carries the k
    that held its row id when the table was written (``first_k``): the
    files' write order sets the ids, so twin tables may differ there."""
    if kind == "row_tracking":
        rows = sorted((first_k[i], k, v) for i, k, v in _with_row_ids(spark, t))
    else:
        rows = sorted(tuple(r) for r in t.toDF().collect())
    changes = None
    if kind.endswith("cdf"):
        changes = sorted(
            (r["_commit_version"], r["_change_type"], r["k"], r["v"])
            for r in read_cdf(spark, t.path, 1, t.deltaLog.latest_version()).collect()
        )
    keys = set(t.history(1).collect()[0]["operationMetrics"])
    return rows, changes, keys


@pytest.mark.parametrize("kind", ["plain", "cdf", "row_tracking", "name", "name_cdf", "id"])
def test_copy_on_write_and_merge_on_read_agree(spark, tmpdir_path, kind):
    """A DELETE, then an UPDATE (a Column value) over rows the DELETE
    removed, on twin tables: copy-on-write on one, deletion vectors on
    the other."""
    cow = _table(spark, os.path.join(tmpdir_path, "cow"), kind)
    mor = _table(spark, os.path.join(tmpdir_path, "mor"), kind)
    first_k = {
        t.path: {i: k for i, k, _ in _with_row_ids(spark, t)} if kind == "row_tracking" else None
        for t in (cow, mor)
    }
    for op in (
        lambda t, dv: t.delete("k % 10 = 3", deletion_vectors=dv),
        lambda t, dv: t.update("k < 30", {"v": F.col("v") + 1000}, deletion_vectors=dv),
    ):
        op(cow, False)
        op(mor, True)
        assert _state(spark, mor, kind, first_k[mor.path]) == _state(
            spark, cow, kind, first_k[cow.path]
        )
    assert any(a.get("deletionVector") for a in mor.snapshot().add_files())
    if kind == "row_tracking":  # every row kept its id
        rows, _, _ = _state(spark, mor, kind, first_k[mor.path])
        assert all(first == k for first, k, _ in rows)
    rows = sorted(tuple(r) for r in mor.toDF().collect())
    assert rows == sorted(
        (i, i + 1000 * (i < 30)) for i in range(100) if i % 10 != 3
    )


@pytest.mark.parametrize("driver_plan", [True, False])
def test_update_counts_copied_rows_from_the_written_files(
    spark, tmpdir_path, monkeypatch, driver_plan
):
    """14 of 100 rows updated in one file: 86 copied, whether the
    candidates were planned on the driver or in Spark (whose candidates
    carry no stats)."""
    if not driver_plan:
        monkeypatch.setattr(tm, "_DRIVER_PLAN_MAX_LOG_BYTES", 0)
    path = os.path.join(tmpdir_path, "t")
    write_delta(spark.range(100).selectExpr("id AS k", "id AS v").coalesce(1), path)
    t = DeltaTable.forPath(spark, path)
    t.update("k < 14", {"v": "-v"})
    m = t.history(1).collect()[0]["operationMetrics"]
    assert (m["numUpdatedRows"], m["numCopiedRows"]) == ("14", "86")

