"""Row tracking (writer feature) + checkpoint state-preservation
regressions: deletion vectors and row-id metadata must survive both
checkpoint writers and the files_df same-version reconciliation."""

import os

import pytest

from jodie_spark.sources.datasource import register
from jodie_spark.tables.table import DeltaTable, write_delta


@pytest.fixture()
def registered(spark):
    register(spark)
    return spark


def _row_ids(spark, p):
    df = spark.read.format("jodie_delta").option("withRowIds", "true").load(p)
    return sorted((r["_row_id"], r["id"], r["_row_commit_version"]) for r in df.collect())


def test_row_ids_unique_contiguous_across_appends(registered, tmpdir_path):
    spark = registered
    p = os.path.join(tmpdir_path, "rt")
    write_delta(
        spark.range(10).selectExpr("id", "id*2 as v").repartition(3),
        p,
        options={"delta.enableRowTracking": "true"},
    )
    write_delta(spark.range(10, 15).selectExpr("id", "id*2 as v"), p, mode="append")
    rows = _row_ids(spark, p)
    assert [r[0] for r in rows] == list(range(15))
    assert sorted({r[2] for r in rows}) == [0, 1]
    proto = DeltaTable.forPath(spark, p).snapshot().protocol
    assert "rowTracking" in (proto.get("writerFeatures") or [])
    assert "domainMetadata" in (proto.get("writerFeatures") or [])


def test_row_id_watermark_survives_checkpoint(registered, tmpdir_path):
    from jodie_spark.tables.log import ROW_TRACKING_DOMAIN, DeltaLog

    spark = registered
    p = os.path.join(tmpdir_path, "rtcp")
    write_delta(
        spark.range(6).selectExpr("id", "id as v"),
        p,
        options={"delta.enableRowTracking": "true"},
    )
    DeltaLog(p).write_checkpoint(spark=spark)
    dm = DeltaLog(p).latest_domain_metadata(ROW_TRACKING_DOMAIN)
    assert dm is not None and '"rowIdHighWaterMark": 5' in dm["configuration"]
    write_delta(spark.range(6, 9).selectExpr("id", "id as v"), p, mode="append")
    assert [r[0] for r in _row_ids(spark, p)] == list(range(9))


def test_row_id_watermark_survives_pyarrow_checkpoint(registered, tmpdir_path):
    from jodie_spark.tables.log import ROW_TRACKING_DOMAIN, DeltaLog

    spark = registered
    p = os.path.join(tmpdir_path, "rtcp2")
    write_delta(
        spark.range(4).selectExpr("id", "id as v"),
        p,
        options={"delta.enableRowTracking": "true"},
    )
    DeltaLog(p).write_checkpoint(spark=False)  # driver-side fallback path
    dm = DeltaLog(p).latest_domain_metadata(ROW_TRACKING_DOMAIN)
    assert dm is not None and '"rowIdHighWaterMark": 3' in dm["configuration"]
    write_delta(spark.range(4, 6).selectExpr("id", "id as v"), p, mode="append")
    assert [r[0] for r in _row_ids(spark, p)] == list(range(6))


def test_row_ids_stable_under_mor_delete(registered, tmpdir_path):
    """DV'd rows disappear; survivors keep their original row ids
    (positions are pre-mask physical indexes)."""
    spark = registered
    p = os.path.join(tmpdir_path, "rtdv")
    write_delta(
        spark.range(10).selectExpr("id", "id as v").coalesce(1),
        p,
        options={"delta.enableRowTracking": "true"},
    )
    before = {r[1]: r[0] for r in _row_ids(spark, p)}  # id -> row_id
    DeltaTable.forPath(spark, p).delete("id % 2 = 1", deletion_vectors=True)
    after = {r[1]: r[0] for r in _row_ids(spark, p)}
    assert set(after) == {0, 2, 4, 6, 8}
    for k, rid in after.items():
        assert rid == before[k]


def test_dv_survives_spark_checkpoint(registered, tmpdir_path):
    spark = registered
    p = os.path.join(tmpdir_path, "dvcp")
    write_delta(spark.range(10).selectExpr("id", "id*2 as v").coalesce(1), p)
    t = DeltaTable.forPath(spark, p)
    t.delete("id % 2 = 1", deletion_vectors=True)
    t.deltaLog.write_checkpoint(spark=spark)
    t2 = DeltaTable.forPath(spark, p)
    assert any(a.get("deletionVector") for a in t2.snapshot().add_files())
    assert sorted(r["id"] for r in t2.toDF().collect()) == [0, 2, 4, 6, 8]
    # second cycle: checkpoint-seeded state must round-trip the DV again
    t2.delete("id = 0", deletion_vectors=True)
    t2.deltaLog.write_checkpoint(spark=spark)
    t3 = DeltaTable.forPath(spark, p)
    assert sorted(r["id"] for r in t3.toDF().collect()) == [2, 4, 6, 8]


def test_dv_survives_pyarrow_checkpoint(registered, tmpdir_path):
    from jodie_spark.tables.log import DeltaLog

    spark = registered
    p = os.path.join(tmpdir_path, "dvcp2")
    write_delta(spark.range(8).selectExpr("id", "id*2 as v").coalesce(1), p)
    t = DeltaTable.forPath(spark, p)
    t.delete("id < 3", deletion_vectors=True)
    DeltaLog(p).write_checkpoint(spark=False)
    t2 = DeltaTable.forPath(spark, p)
    assert sorted(r["id"] for r in t2.toDF().collect()) == [3, 4, 5, 6, 7]


def test_files_df_mor_same_version_tiebreak(registered, tmpdir_path):
    """A MoR commit removes and re-adds the same path in one version —
    the re-add must win the Spark-side reconciliation."""
    from jodie_spark.tables.distribution import files_df

    spark = registered
    p = os.path.join(tmpdir_path, "tiebrk")
    write_delta(spark.range(6).selectExpr("id", "id as v").coalesce(1), p)
    DeltaTable.forPath(spark, p).delete("id = 0", deletion_vectors=True)
    fdf = files_df(spark, p)
    rows = fdf.collect()
    assert len(rows) == 1  # the file is still live


def test_concurrent_row_id_allocation_conflicts(registered, tmpdir_path):
    """Two writers allocating from the same watermark must not both
    commit (ids would collide): the loser raises."""
    from jodie_spark.errors import ConcurrentModificationException
    from jodie_spark.tables.log import DeltaLog
    from jodie_spark.tables.writer import write_data_files

    spark = registered
    p = os.path.join(tmpdir_path, "rtrace")
    write_delta(
        spark.range(3).selectExpr("id", "id as v"),
        p,
        options={"delta.enableRowTracking": "true"},
    )
    log = DeltaLog(p)
    v = log.latest_version()
    adds_a = write_data_files(spark.range(3, 5).selectExpr("id", "id as v"), p, [])
    adds_b = write_data_files(spark.range(5, 7).selectExpr("id", "id as v"), p, [])
    # writer A commits from read_version v
    log.commit(v, [{"add": a} for a in adds_a], "WRITE", {}, {})
    # writer B also read at v: its domain bump conflicts with A's
    with pytest.raises(ConcurrentModificationException, match="domain metadata"):
        log.commit(v, [{"add": a} for a in adds_b], "WRITE", {}, {})


# ---------------------------------------------------------------------------
# in-commit timestamps (write side)
# ---------------------------------------------------------------------------

def test_in_commit_timestamps_written_and_monotonic(registered, tmpdir_path):
    import json as _json

    from jodie_spark.tables.log import DeltaLog, commit_file_name

    spark = registered
    p = os.path.join(tmpdir_path, "ict")
    write_delta(
        spark.range(3).selectExpr("id", "id as v"),
        p,
        options={"delta.enableInCommitTimestamps": "true"},
    )
    t = DeltaTable.forPath(spark, p)
    t.delete("id = 0")
    write_delta(spark.range(3, 5).selectExpr("id", "id as v"), p, mode="append")
    log = DeltaLog(p)
    icts = []
    for v in range(log.latest_version() + 1):
        with open(os.path.join(log.log_path, commit_file_name(v))) as fh:
            for line in fh:
                a = _json.loads(line)
                if "commitInfo" in a:
                    icts.append(a["commitInfo"].get("inCommitTimestamp"))
    assert all(x is not None for x in icts)
    assert icts == sorted(icts) and len(set(icts)) == len(icts)  # strictly increasing
    proto = t.snapshot().protocol
    assert "inCommitTimestamp" in proto["writerFeatures"]
    # timestamp-based time travel prefers the monotonic clock
    assert log.version_at_timestamp(icts[1]) == 1


def _full_rid_map(spark, p):
    df = spark.read.format("jodie_delta").option("withRowIds", "true").load(p)
    return {r["id"]: (r["_row_id"], r["_row_commit_version"]) for r in df.collect()}


def _rt_table(spark, tmpdir_path, name, n=10):
    p = os.path.join(tmpdir_path, name)
    write_delta(
        spark.range(n).selectExpr("id", "id as v").coalesce(1),
        p,
        options={"delta.enableRowTracking": "true"},
    )
    return p


def test_row_ids_preserved_through_cow_delete(registered, tmpdir_path):
    """Spec preservation (ADVICE r3): copied rows in a CoW rewrite keep
    BOTH their row id and commit version (materialized lineage cols)."""
    spark = registered
    p = _rt_table(spark, tmpdir_path, "rt_cow_del")
    before = _full_rid_map(spark, p)
    DeltaTable.forPath(spark, p).delete("id % 2 = 1")
    after = _full_rid_map(spark, p)
    assert set(after) == {0, 2, 4, 6, 8}
    assert all(after[k] == before[k] for k in after)


def test_row_ids_preserved_through_cow_update(registered, tmpdir_path):
    spark = registered
    p = _rt_table(spark, tmpdir_path, "rt_cow_upd")
    before = _full_rid_map(spark, p)
    DeltaTable.forPath(spark, p).update("id < 3", {"v": "v + 100"})
    after = _full_rid_map(spark, p)
    assert all(after[k][0] == before[k][0] for k in after)  # ids stable
    assert all(after[k][1] > before[k][1] for k in [0, 1, 2])  # modified → new ver
    assert all(after[k][1] == before[k][1] for k in range(3, 10))  # copied → kept


def test_row_ids_preserved_through_optimize(registered, tmpdir_path):
    spark = registered
    p = os.path.join(tmpdir_path, "rt_opt")
    write_delta(
        spark.range(8).selectExpr("id", "id as v").repartition(4),
        p,
        options={"delta.enableRowTracking": "true"},
    )
    before = _full_rid_map(spark, p)
    DeltaTable.forPath(spark, p).optimize().executeCompaction()
    after = _full_rid_map(spark, p)
    assert after == before
    # fresh appends after the rewrite still allocate unique ids
    spark.range(100, 103).selectExpr("id", "id as v").write.format(
        "jodie_delta"
    ).mode("append").save(p)
    final = _full_rid_map(spark, p)
    ids = [v[0] for v in final.values()]
    assert len(ids) == len(set(ids))


def test_row_ids_preserved_through_merge_cow_and_mor(registered, tmpdir_path):
    spark = registered
    src = spark.createDataFrame(
        [(1, 101), (2, 102), (20, 120)], "id long, v long"
    )
    for name, dv in (("rt_m_cow", False), ("rt_m_mor", True)):
        p = _rt_table(spark, tmpdir_path, name)
        before = _full_rid_map(spark, p)
        (
            DeltaTable.forPath(spark, p)
            .alias("t")
            .merge(src.alias("s"), "t.id = s.id")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute(deletion_vectors=dv)
        )
        after = _full_rid_map(spark, p)
        assert all(after[k][0] == before[k][0] for k in before), name
        assert all(after[k][1] > before[k][1] for k in [1, 2]), name
        assert all(
            after[k][1] == before[k][1] for k in [0, 3, 4, 5, 6, 7, 8, 9]
        ), name
        ids = [v[0] for v in after.values()]
        assert len(ids) == len(set(ids)), name


def test_row_ids_preserved_through_mor_update_and_reorg(registered, tmpdir_path):
    spark = registered
    p = _rt_table(spark, tmpdir_path, "rt_mor_upd")
    before = _full_rid_map(spark, p)
    t = DeltaTable.forPath(spark, p)
    t.update("id < 3", {"v": "v + 100"}, deletion_vectors=True)
    mid = _full_rid_map(spark, p)
    assert all(mid[k][0] == before[k][0] for k in mid)
    # purge the DVs: pure layout rewrite keeps id AND version
    DeltaTable.forPath(spark, p).reorg_purge()
    after = _full_rid_map(spark, p)
    assert after == mid


def test_lineage_cols_never_leak_into_reads(registered, tmpdir_path):
    """Materialized lineage columns are physical-only: plain reads,
    CDF reads and stats JSON must not expose them."""
    import json as _json

    spark = registered
    p = os.path.join(tmpdir_path, "rt_leak")
    write_delta(
        spark.range(6).selectExpr("id", "id as v").coalesce(1),
        p,
        options={
            "delta.enableRowTracking": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    DeltaTable.forPath(spark, p).update("id = 1", {"v": "99"})
    t = DeltaTable.forPath(spark, p)
    assert [f.name for f in t.toDF().schema.fields] == ["id", "v"]
    cdf = spark.read.format("jodie_delta").option("readChangeFeed", "true").option(
        "startingVersion", 0
    ).load(p)
    assert [f.name for f in cdf.schema.fields] == [
        "id", "v", "_change_type", "_commit_version", "_commit_timestamp"
    ]
    for a in t.snapshot().add_files():
        st = _json.loads(a.get("stats") or "{}")
        for side in ("minValues", "maxValues", "nullCount"):
            assert not any(
                c.startswith("_row-") for c in (st.get(side) or {})
            ), st


def test_row_ids_preserved_partitioned_and_zorder(registered, tmpdir_path):
    """Lineage materialization composes with Hive partitioning and the
    morton Z-ORDER rewrite (partition dirs + shuffles must not detach
    a row from its id)."""
    spark = registered
    p = os.path.join(tmpdir_path, "rt_part")
    write_delta(
        spark.range(12).selectExpr("id", "id % 3 as grp", "id * 2 as v"),
        p,
        partition_by=["grp"],
        options={"delta.enableRowTracking": "true"},
    )
    before = _full_rid_map(spark, p)
    DeltaTable.forPath(spark, p).delete("id IN (1, 4)")
    mid = _full_rid_map(spark, p)
    assert set(mid) == set(range(12)) - {1, 4}
    assert all(mid[k] == before[k] for k in mid)
    DeltaTable.forPath(spark, p).optimize().executeZOrderBy("id", "v")
    after = _full_rid_map(spark, p)
    assert after == mid


def test_row_ids_preserved_on_column_mapped_table(registered, tmpdir_path):
    """Column mapping + row tracking: rewrites must preserve ids
    through the physical-name read/write (round-4 extension of the
    ADVICE fix — mapped tables previously fell back to fresh ids)."""
    spark = registered
    p = os.path.join(tmpdir_path, "rt_mapped")
    write_delta(
        spark.range(10).selectExpr("id", "id as v").coalesce(1),
        p,
        options={
            "delta.enableRowTracking": "true",
            "delta.columnMapping.mode": "name",
        },
    )
    before = _full_rid_map(spark, p)
    assert len(before) == 10
    t = DeltaTable.forPath(spark, p)
    t.delete("id % 2 = 1")
    mid = _full_rid_map(spark, p)
    assert set(mid) == {0, 2, 4, 6, 8}
    assert all(mid[k] == before[k] for k in mid)
    DeltaTable.forPath(spark, p).update("id = 0", {"v": "99"})
    after = _full_rid_map(spark, p)
    assert all(after[k][0] == before[k][0] for k in after)
    assert after[0][1] > before[0][1]
    assert all(after[k][1] == before[k][1] for k in [2, 4, 6, 8])
