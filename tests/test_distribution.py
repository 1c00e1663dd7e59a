"""Distribution + shuffle-file analytics tests (ports of
DeltaHelperSpec.scala:796-986 shapes, asserting distribution shape
rather than byte-exact goldens which are layout-dependent)."""

import os

from conftest import spark_jobs

from jodie_spark.tables.distribution import (
    NUM_RECORDS_DF_COLUMNS,
    SIZE_DF_COLUMNS,
    TOTAL_NUM_FILES,
    UNRESOLVED_COLS,
    delta_file_size_distribution,
    delta_file_size_distribution_in_mb,
    delta_num_record_distribution,
    files_df,
    get_num_shuffle_files,
    get_shuffle_file_metadata,
)
from jodie_spark.tables.table import DeltaTable, write_delta

PEOPLE = [
    (1, "Benito", "Jackson"), (2, "Maria", "Willis"), (3, "Jose", "Travolta"),
    (4, "Benito", "Jackson"), (5, "Jose", "Travolta"), (6, "Maria", "Pitt"),
    (7, "Jose", "Travolta"),
]


def _mk(spark, tmpdir_path, partition_by=None, name="t", max_records=None):
    path = os.path.join(tmpdir_path, name)
    if max_records:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", str(max_records))
    try:
        write_delta(
            spark.createDataFrame(PEOPLE, ["id", "firstname", "lastname"]),
            path,
            partition_by=partition_by or [],
        )
    finally:
        if max_records:
            spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    return path


def test_files_df_matches_snapshot(spark, tmpdir_path):
    path = _mk(spark, tmpdir_path, partition_by=["lastname"])
    t = DeltaTable.forPath(spark, path)
    fdf = files_df(spark, path)
    assert fdf.count() == t.snapshot().num_files()
    assert set(fdf.columns) == {
        "path", "partitionValues", "size", "modificationTime", "stats",
        "deletionVector", "baseRowId", "defaultRowCommitVersion", "tags",
    }


def test_files_df_reads_checkpointed_table(spark, tmpdir_path):
    # regression: checkpoint remove structs carry extra fields; struct
    # casts with mismatched arity failed analysis
    path = os.path.join(tmpdir_path, "cpt")
    write_delta(spark.range(10).withColumnRenamed("id", "x"), path)
    t = DeltaTable.forPath(spark, path)
    for _ in range(11):
        t.update("x >= 0", {"x": "x"})
    assert t.deltaLog.list_checkpoint_versions()  # checkpoint happened
    assert files_df(spark, path).count() == t.snapshot().num_files()


def test_files_df_reconciles_removes(spark, tmpdir_path):
    path = _mk(spark, tmpdir_path, name="rm")
    t = DeltaTable.forPath(spark, path)
    t.delete("id = 1")  # rewrites the touched file
    assert files_df(spark, path).count() == t.snapshot().num_files()


def test_size_distribution_unpartitioned(spark, tmpdir_path):
    # parity: DeltaHelperSpec.scala:797-809 (1 row, count==numFiles)
    path = _mk(spark, tmpdir_path, name="dist")
    df = delta_file_size_distribution(spark, path)
    assert df.columns == SIZE_DF_COLUMNS
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["num_of_parquet_files"] >= 1
    assert rows[0]["mean_size_of_files"] > 0


def test_size_distribution_partition_condition(spark, tmpdir_path):
    # parity: DeltaHelperSpec.scala:810-822
    path = _mk(spark, tmpdir_path, partition_by=["lastname"], name="pdist")
    df = delta_file_size_distribution(spark, path, "lastname='Travolta'")
    rows = df.collect()
    assert len(rows) == 1
    mb = delta_file_size_distribution_in_mb(spark, path, "lastname='Travolta'").collect()
    assert abs(mb[0]["mean_size_of_files"] - rows[0]["mean_size_of_files"] / 1024 / 1024) < 1e-9


def test_num_record_distribution(spark, tmpdir_path):
    path = _mk(spark, tmpdir_path, partition_by=["lastname"], name="nrec")
    df = delta_num_record_distribution(spark, path, "lastname='Travolta'")
    assert df.columns == NUM_RECORDS_DF_COLUMNS
    rows = df.collect()
    assert len(rows) == 1
    # 3 Travolta rows total, however many files they landed in
    assert rows[0]["num_of_parquet_files"] * rows[0]["mean_num_records_in_files"] == 3.0


def test_get_num_shuffle_files_classes(spark, tmpdir_path):
    # parity: DeltaHelperSpec.scala:871-986 — per-class counts; an
    # unresolved (aliased) conjunct keeps every file
    path = _mk(spark, tmpdir_path, partition_by=["lastname"], name="shuf")
    result = get_num_shuffle_files(
        spark, path, "lastname = 'Travolta' and id >= 2 and id <= 7 and snapshot.id = update.id"
    )
    total = result[TOTAL_NUM_FILES]
    assert total >= 3
    overall = next(v for k, v in result.items() if k.startswith("OVERALL"))
    equals = next(v for k, v in result.items() if k.startswith("EQUALS"))
    minmax = next(v for k, v in result.items() if k.startswith("GREATER"))
    assert overall <= equals <= total
    assert overall <= minmax <= total
    assert sorted(result[UNRESOLVED_COLS]) == ["snapshot.id", "update.id"]
    # every class counted in ONE aggregation over files_df, no cache
    again = {}
    jobs = spark_jobs(
        spark,
        lambda: again.update(
            get_num_shuffle_files(
                spark, path,
                "lastname = 'Travolta' and id >= 2 and id <= 7 and snapshot.id = update.id",
            )
        ),
    )
    assert again == result
    assert jobs == 3, jobs


def test_zorder_tightens_skipping(spark, tmpdir_path):
    # parity shape: DeltaHelperSpec.scala:968-986 — after clustering on
    # id, a narrow id-range predicate selects fewer files
    path = os.path.join(tmpdir_path, "zt")
    df = spark.range(0, 400).withColumnRenamed("id", "n").repartition(8)
    write_delta(df, path)
    before = get_num_shuffle_files(spark, path, "n <= 10")[TOTAL_NUM_FILES]
    t = DeltaTable.forPath(spark, path)
    t.optimize().executeZOrderBy("n")
    after = get_num_shuffle_files(spark, path, "n <= 10")
    overall_after = next(v for k, v in after.items() if k.startswith("OVERALL"))
    # random 8-way split: every file spans the range; clustered: only one
    assert overall_after < before


def test_get_shuffle_file_metadata_returns_frames(spark, tmpdir_path):
    path = _mk(spark, tmpdir_path, partition_by=["lastname"], name="meta")
    overall, minmax, equals, other, unresolved, full, cols = get_shuffle_file_metadata(
        spark, path, "lastname = 'Travolta'"
    )
    assert overall.count() <= full.count()
    assert cols == []


def test_spark_side_checkpoint_roundtrip_50k(spark, tmpdir_path):
    """write_checkpoint builds the checkpoint with Spark (bounded driver
    memory): a 50k-add log checkpoints into multi-part files that both
    the Spark reader (files_df) and the driver reader (snapshot) fully
    reconstruct, tombstones included."""
    import json as _json
    import os as _os

    from jodie_spark.tables.distribution import files_df
    from jodie_spark.tables.log import DeltaLog, commit_file_name
    from jodie_spark.tables.table import DeltaTable, write_delta

    p = _os.path.join(tmpdir_path, "cp50k")
    write_delta(
        spark.range(0, 100).selectExpr("id", "cast(id as string) as v").repartition(3), p
    )
    DeltaTable.forPath(spark, p).delete("id < 10")  # creates tombstones

    lines = [_json.dumps({"commitInfo": {"timestamp": 0, "operation": "WRITE",
                                         "operationParameters": {}, "operationMetrics": {}}})]
    for i in range(50_000):
        lo = 1_000_000 + i * 10
        st = _json.dumps({"numRecords": 10, "minValues": {"id": lo, "v": "x"},
                          "maxValues": {"id": lo + 9, "v": "x"},
                          "nullCount": {"id": 0, "v": 0}})
        lines.append(_json.dumps({"add": {"path": f"fake/part-{i:06d}.parquet",
                                          "partitionValues": {}, "size": 1000,
                                          "modificationTime": 0, "dataChange": True,
                                          "stats": st}}))
    log = DeltaLog(p)
    with open(_os.path.join(log.log_path, commit_file_name(2)), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    v = log.write_checkpoint(spark=spark)
    assert v == 2
    assert v in log.list_checkpoint_versions()
    assert files_df(spark, p).count() == 50_003
    snap = log.snapshot()
    assert snap.num_files() == 50_003
    assert len(snap.tombstones) == 3
    assert snap.metadata.get("schemaString")
    # DML on top of the checkpoint replans and commits
    DeltaTable.forPath(spark, p).update("id >= 90 and id < 200", {"v": "'z'"})
    assert log.table_info().version == 3


def test_files_df_tolerates_minimal_external_checkpoint(spark, tmpdir_path):
    """Externally written checkpoints may omit optional remove subfields
    (remove.size / remove.partitionValues are optional in the protocol);
    the Spark log reader must project them as nulls, not fail."""
    import json as _json
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from jodie_spark.tables.distribution import files_df
    from jodie_spark.tables.log import DeltaLog, checkpoint_file_name
    from jodie_spark.tables.table import DeltaTable, write_delta

    p = _os.path.join(tmpdir_path, "extcp")
    write_delta(spark.createDataFrame([(1,), (2,)], "x int"), p)
    t = DeltaTable.forPath(spark, p)
    t.delete("x = 1")  # v1: add + remove
    log = DeltaLog(p)
    snap = log.snapshot()

    # minimal-schema checkpoint: remove has ONLY path; add lacks stats
    schema = pa.schema([
        ("add", pa.struct([("path", pa.string()), ("size", pa.int64()),
                           ("modificationTime", pa.int64()), ("dataChange", pa.bool_())])),
        ("remove", pa.struct([("path", pa.string())])),
        ("metaData", pa.struct([("id", pa.string()), ("schemaString", pa.string()),
                                ("partitionColumns", pa.list_(pa.string()))])),
        ("protocol", pa.struct([("minReaderVersion", pa.int32()),
                                ("minWriterVersion", pa.int32())])),
    ])
    rows = [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "x", "schemaString": snap.schema_string,
                          "partitionColumns": []}}]
    for a in snap.add_files():
        rows.append({"add": {"path": a["path"], "size": int(a["size"] or 0),
                             "modificationTime": 0, "dataChange": False}})
    for rm in snap.tombstones.values():
        rows.append({"remove": {"path": rm["path"]}})
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   _os.path.join(log.log_path, checkpoint_file_name(1)))
    with open(_os.path.join(log.log_path, "_last_checkpoint"), "w") as fh:
        _json.dump({"version": 1, "size": len(rows)}, fh)

    got = files_df(spark, p).collect()
    assert sorted(r["path"] for r in got) == sorted(a["path"] for a in snap.add_files())
    # and DML on top still plans (stats null => conservative keep)
    t.delete("x = 2")
    assert t.toDF().count() == 0


def test_multicol_zorder_tightens_both_columns(spark, tmpdir_path):
    """Interleaved-bit Z-ORDER must give BOTH clustered columns skipping
    power; lexicographic clustering only helps the first."""
    import os as _os

    from jodie_spark.tables.distribution import get_num_shuffle_files
    from jodie_spark.tables.table import DeltaTable, write_delta

    df = (
        spark.range(0, 50_000)
        .selectExpr("id", "cast(hash(id) % 1000 as int) as x",
                    "cast(hash(id + 7) % 1000 as int) as y")
    )
    p = _os.path.join(tmpdir_path, "zboth")
    write_delta(df.repartition(16), p)
    t = DeltaTable.forPath(spark, p)
    # small file target => 16 z-ordered output files, so skipping is
    # measurable on both dimensions
    t.optimize().executeZOrderBy("x", "y", target_file_size=48 * 1024)

    res_x = get_num_shuffle_files(spark, t.path, "x >= 0 and x < 100")
    res_y = get_num_shuffle_files(spark, t.path, "y >= 0 and y < 100")
    total = res_x["TOTAL_NUM_FILES_IN_DELTA_TABLE =>"]
    kx = [v for k, v in res_x.items() if k.startswith("OVERALL")][0]
    ky = [v for k, v in res_y.items() if k.startswith("OVERALL")][0]
    assert total >= 8
    assert kx < total and ky < total  # both dimensions skip strictly
