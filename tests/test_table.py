"""Delta substrate tests: merge semantics, delete/update, time travel,
checkpointing, vacuum — including regressions for the round-1 defects
(timestamp-stat pruning, cdc metric aliasing, checkpoint tombstones,
overwrite schema guard)."""

import datetime
import os

import pytest

from jodie_spark.errors import JodieValidationError
from jodie_spark.tables.table import DeltaTable, write_delta


def _mk(spark, tmpdir_path, rows, schema, name="t", **kw):
    path = os.path.join(tmpdir_path, name)
    write_delta(spark.createDataFrame(rows, schema), path, **kw)
    return DeltaTable.forPath(spark, path)


def test_merge_clause_order_and_conditions(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path, [(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    src = spark.createDataFrame([(2, "B"), (3, "C"), (4, "D")], "k int, v string")
    (
        t.alias("old")
        .merge(src.alias("new"), "old.k = new.k")
        .whenMatchedDelete("new.k = 3")
        .whenMatchedUpdate(set={"v": "new.v"})
        .whenNotMatchedInsertAll()
        .execute()
    )
    got = sorted(tuple(r) for r in t.toDF().collect())
    assert got == [(1, "a"), (2, "B"), (4, "D")]
    m = t.history(1).collect()[0]["operationMetrics"]
    assert (m["numTargetRowsDeleted"], m["numTargetRowsUpdated"], m["numTargetRowsInserted"]) == (
        "1", "1", "1",
    )


def test_protocol_reader_feature_gate(spark, tmpdir_path):
    import json

    from jodie_spark.errors import DeltaProtocolError

    # hand-built log as modern delta-spark would write it: deletion
    # vectors demand reader capabilities this engine lacks
    def mk_log(name, protocol):
        path = os.path.join(tmpdir_path, name)
        log_dir = os.path.join(path, "_delta_log")
        os.makedirs(log_dir)
        meta = {
            "id": "0", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": [
                    {"name": "k", "type": "integer", "nullable": True, "metadata": {}}]}
            ),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }
        with open(os.path.join(log_dir, "%020d.json" % 0), "w") as fh:
            fh.write(json.dumps({"protocol": protocol}) + "\n")
            fh.write(json.dumps({"metaData": meta}) + "\n")
        return path

    # v2 checkpoints are readable AND writable (manifest+sidecar layout
    # — see test_v2_checkpoint) so both gates pass
    v2cp = mk_log("v2cp_table", {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["v2Checkpoint"],
        "writerFeatures": ["v2Checkpoint"],
    })
    assert DeltaTable.forPath(spark, v2cp).snapshot().version == 0
    DeltaTable.forPath(spark, v2cp).delete("k = 1")  # no candidates: commits
    assert DeltaTable.forPath(spark, v2cp).deltaLog.latest_version() == 1

    # a reader feature this engine genuinely lacks still refuses
    # (variantType became readable in round 5 — see test_variant — so
    # the stand-in here is a hypothetical future feature)
    tw = mk_log("future_feature_table", {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["someFutureReaderFeature"],
        "writerFeatures": ["someFutureReaderFeature"],
    })
    with pytest.raises(DeltaProtocolError, match="someFutureReaderFeature"):
        DeltaTable.forPath(spark, tw).snapshot()

    # deletionVectors are readable AND writable (read: row-index
    # anti-filter; write: delete(deletion_vectors=True) + rewrite-DML
    # reads through DVs) — both gates pass
    dv = mk_log("dv_table", {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"],
    })
    assert DeltaTable.forPath(spark, dv).snapshot().version == 0
    DeltaTable.forPath(spark, dv).delete("k = 1")  # no candidates: commits cleanly
    assert DeltaTable.forPath(spark, dv).deltaLog.latest_version() == 1
    # an unsupported writer feature still refuses
    rt = mk_log("icebergcompat_table", {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": [],
        "writerFeatures": ["icebergCompatV2"],
    })
    with pytest.raises(DeltaProtocolError, match="icebergCompatV2"):
        DeltaTable.forPath(spark, rt).delete("k = 1")

    # reader v2 == legacy column mapping: readable (mode defaults to
    # 'none'; mode 'name' is handled — see test_column_mapping_name_read)
    cm = mk_log("cm_table", {"minReaderVersion": 2, "minWriterVersion": 5})
    assert DeltaTable.forPath(spark, cm).snapshot().version == 0

    # ...mode 'id' is readable since round 5 (parquet field-id
    # resolution — see test_column_mapping_id_read) and, since round 6,
    # writable too: DML commits through the field-id-aware rewrite
    # (see test_column_mapping_id_dml_and_append)
    id_mode = mk_log("cm_id_table", {"minReaderVersion": 2, "minWriterVersion": 5})
    log_file = os.path.join(id_mode, "_delta_log", "%020d.json" % 0)
    lines = open(log_file).read().splitlines()
    meta_action = json.loads(lines[1])
    meta_action["metaData"]["configuration"] = {"delta.columnMapping.mode": "id"}
    with open(log_file, "w") as fh:
        fh.write(lines[0] + "\n")
        fh.write(json.dumps(meta_action) + "\n")
    assert DeltaTable.forPath(spark, id_mode).snapshot().version == 0
    DeltaTable.forPath(spark, id_mode).delete("k = 1")  # no candidates: commits
    assert DeltaTable.forPath(spark, id_mode).deltaLog.latest_version() == 1

    # v3 with only supported features is fine
    ok = mk_log("ok_table", {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["timestampNtz"], "writerFeatures": ["timestampNtz"],
    })
    assert DeltaTable.forPath(spark, ok).snapshot().version == 0


def test_merge_multiple_match_raises(spark, tmpdir_path):
    from jodie_spark.errors import MergeMultipleMatchesError

    t = _mk(spark, tmpdir_path, [(1, "a"), (2, "b")], "k int, v string", name="mm")
    dup_src = spark.createDataFrame([(1, "X"), (1, "Y"), (3, "Z")], "k int, v string")
    builder = (
        t.alias("old")
        .merge(dup_src.alias("new"), "old.k = new.k")
        .whenMatchedUpdate(set={"v": "new.v"})
        .whenNotMatchedInsertAll()
    )
    with pytest.raises(MergeMultipleMatchesError):
        builder.execute()
    # table unchanged after the failed merge
    assert sorted(tuple(r) for r in t.toDF().collect()) == [(1, "a"), (2, "b")]
    # Delta's exception: a single unconditional DELETE clause is
    # deterministic under multiple matches — no raise, row just goes
    t2 = _mk(spark, tmpdir_path, [(1, "a"), (2, "b")], "k int, v string", name="mm2")
    (
        t2.alias("old")
        .merge(dup_src.alias("new"), "old.k = new.k")
        .whenMatchedDelete()
        .execute()
    )
    assert sorted(tuple(r) for r in t2.toDF().collect()) == [(2, "b")]
    # explicit opt-in restores one-output-row-per-match behavior
    t3 = _mk(spark, tmpdir_path, [(1, "a")], "k int, v string", name="mm3")
    (
        t3.alias("old")
        .merge(dup_src.alias("new").filter("k = 1"), "old.k = new.k")
        .whenMatchedUpdate(set={"v": "new.v"})
        .execute(allow_multiple_matches=True)
    )
    assert t3.toDF().count() == 2  # one output row per match, documented opt-in


def test_merge_untouched_files_not_rewritten(spark, tmpdir_path):
    path = os.path.join(tmpdir_path, "part")
    df = spark.createDataFrame([(i, "p%d" % (i % 3)) for i in range(9)], "k int, p string")
    write_delta(df, path, partition_by=["p"])
    t = DeltaTable.forPath(spark, path)
    before = {f["path"] for f in t.snapshot().add_files()}
    src = spark.createDataFrame([(0, "p0")], "k int, p string")
    (
        t.alias("old")
        .merge(src.alias("new"), "old.k = new.k and old.p = new.p")
        .whenMatchedDelete()
        .execute()
    )
    after = {f["path"] for f in t.snapshot().add_files()}
    untouched_kept = {f for f in before if "/p=p1/" in f or "/p=p2/" in f or "p=p1" in f or "p=p2" in f}
    assert untouched_kept <= after  # other partitions' files survived as-is


def test_timestamp_equality_predicate_regression(spark, tmpdir_path):
    # regression: r1 pruning coerced timestamp literals lexically and
    # proved false non-matches, silently skipping rows
    t = _mk(
        spark,
        tmpdir_path,
        [(1, datetime.datetime(2023, 1, 1)), (2, datetime.datetime(2023, 6, 1, 12, 30))],
        "id int, ts timestamp",
    )
    t.delete("ts = timestamp'2023-01-01 00:00:00'")
    assert [r["id"] for r in t.toDF().collect()] == [2]


def test_cdc_metric_not_aliased_regression(spark, tmpdir_path):
    # regression: r1 recorded numAddedChangeFiles = adds+removes on
    # CDF-disabled tables via list aliasing
    t = _mk(spark, tmpdir_path, [(1, "a"), (2, "b")], "k int, v string")
    t.delete("k = 1")
    m = t.history(1).collect()[0]["operationMetrics"]
    assert m["numAddedChangeFiles"] == "0"


def test_checkpoint_retains_tombstones_and_vacuum(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path, [(i,) for i in range(5)], "x int", name="cp")
    first_files = [f["path"] for f in t.snapshot().add_files()]
    for _ in range(11):
        t.update("x >= 0", {"x": "x"})
    t.deltaLog.write_checkpoint()
    snap = t.deltaLog.snapshot()
    assert len(snap.tombstones) > 0
    t.vacuum(retention_hours=0.0)
    assert all(not os.path.isfile(os.path.join(t.path, f)) for f in first_files)
    # table still reads fine after vacuum
    assert t.toDF().count() == 5


def test_overwrite_schema_guard(spark, tmpdir_path):
    path = os.path.join(tmpdir_path, "ow")
    write_delta(spark.createDataFrame([(1, "a")], "k int, v string"), path)
    with pytest.raises(JodieValidationError):
        write_delta(
            spark.createDataFrame([("1", "a")], "k string, v string"), path, mode="overwrite"
        )
    with pytest.raises(JodieValidationError):
        write_delta(spark.createDataFrame([(1,)], "k int"), path, mode="overwrite")
    # explicit overwriteSchema allows it
    write_delta(
        spark.createDataFrame([(1,)], "k int"),
        path,
        mode="overwrite",
        options={"overwriteSchema": "true"},
    )
    assert DeltaTable.forPath(spark, path).toDF().columns == ["k"]


def test_restore_to_version(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path, [(1,), (2,), (3,)], "x int", name="rst")
    t.delete("x = 1")
    t.update("x = 2", {"x": "20"})
    assert sorted(r["x"] for r in t.toDF().collect()) == [3, 20]
    t.restore(0)
    assert sorted(r["x"] for r in t.toDF().collect()) == [1, 2, 3]
    # restore is itself a commit — time travel back to the mutated state works
    assert sorted(r["x"] for r in t.toDF(version=2).collect()) == [3, 20]
    h = t.history(1).collect()[0]
    assert h["operation"] == "RESTORE"


def test_time_travel(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path, [(1,), (2,)], "x int", name="tt")
    t.delete("x = 1")
    assert sorted(r["x"] for r in t.toDF(version=0).collect()) == [1, 2]
    assert sorted(r["x"] for r in t.toDF().collect()) == [2]


def test_append_schema_evolution(spark, tmpdir_path):
    path = os.path.join(tmpdir_path, "ev")
    write_delta(spark.createDataFrame([(1, "a")], "k int, v string"), path)
    extra = spark.createDataFrame([(2, "b", 9.5)], "k int, v string, score double")
    with pytest.raises(JodieValidationError):
        write_delta(extra, path, mode="append")
    write_delta(extra, path, mode="append", options={"mergeSchema": "true"})
    t = DeltaTable.forPath(spark, path)
    got = sorted((r["k"], r["score"]) for r in t.toDF().collect())
    assert got == [(1, None), (2, 9.5)]


def test_special_char_partition_values_round_trip(spark, tmpdir_path):
    # ADVICE regression: Spark escapes partition dirs (space -> %20,
    # literal % -> %25); add.path must percent-encode per the protocol so
    # the read side's unquote recovers the on-disk name, and DML
    # touched-file mapping must not silently miss (=> duplicate inserts).
    path = os.path.join(tmpdir_path, "special")
    rows = [(1, "a b"), (2, "a b"), (3, "x%y"), (4, "plain")]
    write_delta(
        spark.createDataFrame(rows, "k int, p string"), path, partition_by=["p"]
    )
    t = DeltaTable.forPath(spark, path)
    assert sorted(tuple(r) for r in t.toDF().collect()) == sorted(rows)
    # partitionValues parsed back to the logical (unescaped) value
    pvs = {f["partitionValues"]["p"] for f in t.snapshot().add_files()}
    assert pvs == {"a b", "x%y", "plain"}

    t.delete("p = 'x%y'")
    assert sorted(r["p"] for r in t.toDF().collect()) == ["a b", "a b", "plain"]

    t.update("p = 'a b' and k = 1", {"k": "10"})
    assert sorted(r["k"] for r in t.toDF().collect()) == [2, 4, 10]

    src = spark.createDataFrame([(2, "a b", "hit"), (5, "n w", "new")], "k int, p string, tag string")
    (
        t.alias("old")
        .merge(src.alias("new"), "old.k = new.k and old.p = new.p")
        .whenMatchedDelete()
        .execute()
    )
    got = sorted(tuple(r) for r in t.toDF().collect())
    assert got == [(4, "plain"), (10, "a b")]  # no duplicate re-inserts


def test_dml_plans_spark_side_on_large_synthetic_log(spark, tmpdir_path, monkeypatch):
    """DML file planning must ride the Spark-side files_df path: a
    10k-add log with stats that prune to 2 real files plans and
    executes without ever materializing the driver-side file list
    (table_info snapshots carry files=None, so any add_files() call in
    the DML path would raise), and without touching the 10k fabricated
    paths (they do not exist on disk — reading any of them would
    fail)."""
    import json as _json
    import os as _os

    import jodie_spark.tables.table as table_mod
    from jodie_spark.tables.log import DeltaLog, commit_file_name
    from jodie_spark.tables.table import DeltaTable, write_delta

    # force the distributed planner regardless of log size (the
    # adaptive gate would route this ~3 MB log driver-side)
    monkeypatch.setattr(table_mod, "_DRIVER_PLAN_MAX_LOG_BYTES", 0)

    p = _os.path.join(tmpdir_path, "big_log")
    df = spark.range(0, 100).selectExpr("id", "cast(id as string) as v")
    write_delta(df.repartition(2), p)

    # version 1: 10_000 fabricated adds whose id ranges never overlap
    # the predicate below; files intentionally absent on disk
    lines = []
    for i in range(10_000):
        lo = 1_000_000 + i * 10
        stats = _json.dumps(
            {"numRecords": 10, "minValues": {"id": lo, "v": "x"},
             "maxValues": {"id": lo + 9, "v": "x"}, "nullCount": {"id": 0, "v": 0}}
        )
        lines.append(_json.dumps({"add": {
            "path": f"fake/part-{i:05d}.parquet", "partitionValues": {},
            "size": 1000, "modificationTime": 0, "dataChange": True,
            "stats": stats}}))
    lines.insert(0, _json.dumps({"commitInfo": {"timestamp": 0, "operation": "WRITE",
                                                "operationParameters": {}, "operationMetrics": {}}}))
    log_dir = _os.path.join(p, "_delta_log")
    with open(_os.path.join(log_dir, commit_file_name(1)), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    t = DeltaTable.forPath(spark, p)
    t.delete("id < 10")
    t.update("id >= 10 and id < 20", {"v": "'u'"})
    src = spark.createDataFrame([(50, "m")], ["id", "v"])
    (t.alias("t").merge(src.alias("s"), "t.id = s.id and t.id < 100")
       .whenMatchedUpdate(set={"v": "s.v"}).execute())

    # the fabricated adds must still be active and untouched
    snap = DeltaLog(p).snapshot()
    fakes = [a for a in snap.add_files() if a["path"].startswith("fake/")]
    assert len(fakes) == 10_000
    # and the real rows went through all three mutations
    real = [a for a in snap.add_files() if not a["path"].startswith("fake/")]
    got = spark.read.format("parquet").load(
        [_os.path.join(p, a["path"]) for a in real]).collect()
    vals = {r["id"]: r["v"] for r in got}
    assert len(vals) == 90 and 0 not in vals
    assert vals[15] == "u" and vals[50] == "m"


def test_vacuum_writes_start_end_history(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path, [(i,) for i in range(5)], "x int", name="vachist")
    t.update("x >= 0", {"x": "x"})  # tombstones the original file(s)
    t.vacuum(retention_hours=0.0)
    ops = [r["operation"] for r in t.history().collect()]
    assert ops[0] == "VACUUM END" and ops[1] == "VACUUM START"
    end = t.history().collect()[0]["operationMetrics"]
    assert int(end["numDeletedFiles"]) >= 1


def test_append_only_table_blocks_data_removal(spark, tmpdir_path):
    import pytest as _pytest

    from jodie_spark.errors import DeltaProtocolError

    t = _mk(spark, tmpdir_path, [(1,), (2,)], "x int", name="aponly")
    t.set_properties({"delta.appendOnly": "true"})
    with _pytest.raises(DeltaProtocolError):
        t.delete("x = 1")
    with _pytest.raises(DeltaProtocolError):
        t.update("x = 1", {"x": "0"})
    # blind appends stay legal
    write_delta(spark.createDataFrame([(3,)], "x int"), t.path, mode="append")
    src = spark.createDataFrame([(9,)], "x int")
    (t.alias("t").merge(src.alias("s"), "t.x = s.x")
       .whenNotMatchedInsertAll().execute())
    assert t.toDF().count() == 4
    # OPTIMIZE removes with dataChange=false — allowed
    t.optimize().executeCompaction()
    assert t.toDF().count() == 4


def test_writer_protocol_gate(spark, tmpdir_path):
    import json as _json

    import pytest as _pytest

    from jodie_spark.errors import DeltaProtocolError
    from jodie_spark.tables.log import commit_file_name

    t = _mk(spark, tmpdir_path, [(1,)], "x int", name="wgate")
    # hand-raise the table to a writer feature this engine lacks
    v = t.deltaLog.latest_version() + 1
    line = _json.dumps({"protocol": {
        "minReaderVersion": 1, "minWriterVersion": 7,
        "writerFeatures": ["icebergCompatV2"]}})
    with open(os.path.join(t.deltaLog.log_path, commit_file_name(v)), "w") as fh:
        fh.write(line + "\n")
    with _pytest.raises(DeltaProtocolError):
        t.delete("x = 1")
    with _pytest.raises(DeltaProtocolError):
        write_delta(spark.createDataFrame([(2,)], "x int"), t.path, mode="append")


def test_timestamp_time_travel(spark, tmpdir_path):
    import datetime as _dt
    import time as _time

    t = _mk(spark, tmpdir_path, [(1,)], "x int", name="ttts")
    _time.sleep(0.05)
    between = _dt.datetime.now(tz=_dt.timezone.utc)
    _time.sleep(0.05)
    t.update(None, {"x": "x + 10"})
    assert [r["x"] for r in t.toDF(timestamp=between).collect()] == [1]
    after = _dt.datetime.now(tz=_dt.timezone.utc)
    assert [r["x"] for r in t.toDF(timestamp=after).collect()] == [11]


def test_merge_schema_evolution(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path, [(1, "a"), (2, "b")], "k int, v string", name="sevo")
    src = spark.createDataFrame([(2, "B", 20), (3, "c", 30)], "k int, v string, w int")
    (t.alias("t").merge(src.alias("s"), "t.k = s.k")
       .whenMatchedUpdateAll()
       .whenNotMatchedInsertAll()
       .withSchemaEvolution()
       .execute())
    rows = {r["k"]: (r["v"], r["w"]) for r in t.toDF().collect()}
    assert rows == {1: ("a", None), 2: ("B", 20), 3: ("c", 30)}
    assert [f.name for f in t.schema().fields] == ["k", "v", "w"]
    # without evolution, an unknown source column is simply not written
    t2 = _mk(spark, tmpdir_path, [(1, "a")], "k int, v string", name="sevo2")
    src2 = spark.createDataFrame([(4, "d", 40)], "k int, v string, w int")
    (t2.alias("t").merge(src2.alias("s"), "t.k = s.k")
       .whenNotMatchedInsertAll().execute())
    assert [f.name for f in t2.schema().fields] == ["k", "v"]
    assert sorted(tuple(r) for r in t2.toDF().collect()) == [(1, "a"), (4, "d")]


def test_vacuum_dry_run_lists_without_deleting(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path, [(i,) for i in range(5)], "x int", name="vacdry")
    t.update("x >= 0", {"x": "x"})
    before_versions = t.deltaLog.latest_version()
    would = t.vacuum(retention_hours=0.0, dry_run=True)
    assert len(would) >= 1 and all(os.path.isfile(p) for p in would)
    assert t.deltaLog.latest_version() == before_versions  # no commits
    # the real run then deletes exactly those files
    t.vacuum(retention_hours=0.0)
    assert all(not os.path.isfile(p) for p in would)


def test_timestamp_before_first_commit_raises(spark, tmpdir_path):
    import pytest as _pytest

    from jodie_spark.errors import VersionNotFoundError

    t = _mk(spark, tmpdir_path, [(1,)], "x int", name="tsraise")
    with _pytest.raises(VersionNotFoundError):
        t.toDF(timestamp="1990-01-01T00:00:00+00:00").collect()


def test_column_mapping_name_read(spark, tmpdir_path):
    """Hand-built table exactly as delta-spark writes it with
    delta.columnMapping.mode=name: parquet files (and partition dirs)
    carry physical col-<uuid> names; the logical schema lives only in
    metaData.schemaString field metadata. toDF() must return logical
    names with correct values, including a renamed nested struct field
    and a partition column."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(tmpdir_path, "mapped")
    log_dir = os.path.join(path, "_delta_log")
    os.makedirs(log_dir)

    def fmeta(cid, phys):
        return {"delta.columnMapping.id": cid, "delta.columnMapping.physicalName": phys}

    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": fmeta(1, "col-aa")},
                {
                    "name": "info",
                    "type": {
                        "type": "struct",
                        "fields": [
                            {"name": "score", "type": "double", "nullable": True, "metadata": fmeta(3, "col-cc")},
                        ],
                    },
                    "nullable": True,
                    "metadata": fmeta(2, "col-bb"),
                },
                {"name": "part", "type": "string", "nullable": True, "metadata": fmeta(4, "col-dd")},
            ],
        }
    )

    # physical parquet files: one per partition value, in physical-named dirs
    adds = []
    for pv, ids in (("x", [1, 2]), ("y", [3])):
        rel_dir = f"col-dd={pv}"
        os.makedirs(os.path.join(path, rel_dir), exist_ok=True)
        rel = f"{rel_dir}/part-0.parquet"
        tbl = pa.table(
            {
                "col-aa": pa.array(ids, pa.int64()),
                "col-bb": pa.array(
                    [{"col-cc": float(i) / 2} for i in ids],
                    pa.struct([("col-cc", pa.float64())]),
                ),
            }
        )
        pq.write_table(tbl, os.path.join(path, rel))
        adds.append(
            {
                "path": rel,
                "partitionValues": {"col-dd": pv},
                "size": os.path.getsize(os.path.join(path, rel)),
                "modificationTime": 0,
                "dataChange": True,
            }
        )

    meta = {
        "id": "m1",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_string,
        "partitionColumns": ["col-dd"],
        "configuration": {
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": "4",
        },
        "createdTime": 0,
    }
    with open(os.path.join(log_dir, "%020d.json" % 0), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        for a in adds:
            fh.write(json.dumps({"add": a}) + "\n")

    t = DeltaTable.forPath(spark, path)
    df = t.toDF()
    assert [f.name for f in df.schema.fields] == ["id", "info", "part"]
    assert df.schema["info"].dataType.fields[0].name == "score"
    rows = sorted((r["id"], r["info"]["score"], r["part"]) for r in df.collect())
    assert rows == [(1, 0.5, "x"), (2, 1.0, "x"), (3, 1.5, "y")]

    # the v7/v3 feature-flag variant of the same table also reads
    with open(os.path.join(log_dir, "%020d.json" % 0)) as fh:
        lines = fh.read().splitlines()
    path2 = os.path.join(tmpdir_path, "mapped_v7")
    os.makedirs(os.path.join(path2, "_delta_log"))
    for pv in ("x", "y"):
        import shutil

        shutil.copytree(os.path.join(path, f"col-dd={pv}"), os.path.join(path2, f"col-dd={pv}"))
    with open(os.path.join(path2, "_delta_log", "%020d.json" % 0), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["columnMapping"],
                        "writerFeatures": ["columnMapping"],
                    }
                }
            )
            + "\n"
        )
        for line in lines[1:]:
            fh.write(line + "\n")
    rows2 = sorted(
        (r["id"], r["info"]["score"], r["part"])
        for r in DeltaTable.forPath(spark, path2).toDF().collect()
    )
    assert rows2 == rows


def _mk_id_mapped_table(tmpdir_path, spark, extra_config=None):
    """Hand-built mode=id table the way a FOREIGN field-id writer (e.g.
    an Iceberg-converted / UniForm table) produces it: the parquet
    column NAMES deliberately do not match physicalName — only the
    parquet field ids line up with delta.columnMapping.id, so name
    resolution would return all-null and only id resolution succeeds.
    Includes a nested struct field and a physical-named partition dir."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(tmpdir_path, "id_mapped")
    log_dir = os.path.join(path, "_delta_log")
    os.makedirs(log_dir)

    def fmeta(cid, phys):
        return {"delta.columnMapping.id": cid, "delta.columnMapping.physicalName": phys}

    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": fmeta(1, "col-aa")},
                {
                    "name": "info",
                    "type": {
                        "type": "struct",
                        "fields": [
                            {"name": "score", "type": "double", "nullable": True, "metadata": fmeta(3, "col-cc")},
                        ],
                    },
                    "nullable": True,
                    "metadata": fmeta(2, "col-bb"),
                },
                {"name": "part", "type": "string", "nullable": True, "metadata": fmeta(4, "col-dd")},
            ],
        }
    )

    def fid(name, typ, i):
        return pa.field(name, typ, metadata={b"PARQUET:field_id": str(i).encode()})

    arrow_schema = pa.schema(
        [
            fid("zz_one", pa.int64(), 1),
            fid("zz_two", pa.struct([fid("zz_three", pa.float64(), 3)]), 2),
        ]
    )
    adds = []
    for pv, ids in (("x", [1, 2]), ("y", [3])):
        rel_dir = f"col-dd={pv}"
        os.makedirs(os.path.join(path, rel_dir), exist_ok=True)
        rel = f"{rel_dir}/part-0.parquet"
        tbl = pa.table(
            {
                "zz_one": pa.array(ids, pa.int64()),
                "zz_two": pa.array(
                    [{"zz_three": float(i) / 2} for i in ids],
                    arrow_schema.field(1).type,
                ),
            },
            schema=arrow_schema,
        )
        pq.write_table(tbl, os.path.join(path, rel))
        adds.append(
            {
                "path": rel,
                "partitionValues": {"col-dd": pv},
                "size": os.path.getsize(os.path.join(path, rel)),
                "modificationTime": 0,
                "dataChange": True,
            }
        )
    meta = {
        "id": "idm1",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_string,
        "partitionColumns": ["col-dd"],
        "configuration": {
            "delta.columnMapping.mode": "id",
            "delta.columnMapping.maxColumnId": "4",
            **(extra_config or {}),
        },
        "createdTime": 0,
    }
    with open(os.path.join(log_dir, "%020d.json" % 0), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        for a in adds:
            fh.write(json.dumps({"add": a}) + "\n")
    return path


def test_column_mapping_id_read(spark, tmpdir_path):
    path = _mk_id_mapped_table(tmpdir_path, spark)
    t = DeltaTable.forPath(spark, path)
    df = t.toDF()
    assert [f.name for f in df.schema.fields] == ["id", "info", "part"]
    rows = sorted((r["id"], r["info"]["score"], r["part"]) for r in df.collect())
    assert rows == [(1, 0.5, "x"), (2, 1.0, "x"), (3, 1.5, "y")]


def test_column_mapping_id_read_leaves_session_conf_alone(spark, tmpdir_path):
    """The fieldId.read conf must stay scoped to the mode=id scan: the
    user's session conf is untouched (no global matching-behavior leak
    into later parquet reads), yet the returned DataFrame still resolves
    by field id when collected afterwards — and mixes with DataFrames
    from the user's session."""
    key = "spark.sql.parquet.fieldId.read.enabled"
    spark.conf.set(key, "false")
    path = _mk_id_mapped_table(tmpdir_path, spark)
    df = DeltaTable.forPath(spark, path).toDF()
    assert spark.conf.get(key) == "false"  # building the scan didn't leak
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]
    assert spark.conf.get(key) == "false"  # executing it didn't either
    joined = df.join(spark.range(1, 3).toDF("id"), "id")
    assert sorted(r["id"] for r in joined.collect()) == [1, 2]


def test_column_mapping_id_dml_and_append(spark, tmpdir_path):
    """DML on a FOREIGN id-mapped table (parquet column names that do
    NOT match physicalName — only field ids line up): delete, update
    and append all work, results resolve by field id afterwards, and
    every file this engine writes carries footer field ids matching
    delta.columnMapping.id, so the foreign field-id readers that own
    the table keep resolving it."""
    import glob

    import pyarrow.parquet as pq

    path = _mk_id_mapped_table(tmpdir_path, spark)
    t = DeltaTable.forPath(spark, path)
    t.delete("id = 2")
    assert sorted(r["id"] for r in t.toDF().collect()) == [1, 3]
    t.update("id = 3", {"id": "id + 10"})
    assert sorted(r["id"] for r in t.toDF().collect()) == [1, 13]
    write_delta(
        spark.createDataFrame([(20, (10.0,), "y")], t.toDF().schema),
        path,
        mode="append",
    )
    rows = sorted((r["id"], r["info"]["score"], r["part"]) for r in t.toDF().collect())
    assert rows == [(1, 0.5, "x"), (13, 1.5, "y"), (20, 10.0, "y")]
    # every parquet file written by THIS engine (not the foreign
    # fixture's part-0 files) must carry matching footer field ids
    ours = [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if "part-0.parquet" not in f and "_delta_log" not in f
    ]
    assert ours, "engine wrote no files?"
    for f in ours:
        sch = pq.ParquetFile(f).schema_arrow
        ids = {
            fld.name: (fld.metadata or {}).get(b"PARQUET:field_id") for fld in sch
        }
        assert ids.get("col-aa") == b"1", (f, ids)
        assert ids.get("col-bb") == b"2", (f, ids)
        nested = sch.field("col-bb").type.field(0)
        assert (nested.metadata or {}).get(b"PARQUET:field_id") == b"3"


def test_column_mapping_id_cdf_dml(spark, tmpdir_path):
    """CDF on a foreign id-mapped table: cdc files store physical names
    + field ids, and the CDF reader resolves data columns by field id —
    including the foreign fixture files, whose parquet names don't
    match physicalName."""
    from jodie_spark.operators.cdf import ChangeDataFeedHelper

    path = _mk_id_mapped_table(
        tmpdir_path, spark, extra_config={"delta.enableChangeDataFeed": "true"}
    )
    t = DeltaTable.forPath(spark, path)
    t.delete("id = 2")      # v1
    t.update("id = 1", {"id": "11"})  # v2
    cdf = ChangeDataFeedHelper(spark, path, 0).read_cdf()
    changes = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["part"])
        for r in cdf.collect()
    )
    assert (0, "insert", 1, "x") in changes
    assert (0, "insert", 3, "y") in changes
    assert (1, "delete", 2, "x") in changes
    assert (2, "update_preimage", 1, "x") in changes
    assert (2, "update_postimage", 11, "x") in changes


def test_column_mapping_id_foreign_reader_resolves_our_writes(spark, tmpdir_path):
    """Bidirectional id-mode interop: after this engine deletes,
    updates and appends through a foreign id-mapped table, an
    INDEPENDENT foreign field-id reader (pure pyarrow over the public
    protocol — tests/interop_golden.py, no jodie_spark code) resolves
    the whole table, foreign fixture files and our files alike, by
    footer field id and sees exactly what our own reader sees."""
    from tests.interop_golden import foreign_read_rows_by_field_id

    path = _mk_id_mapped_table(tmpdir_path, spark)
    t = DeltaTable.forPath(spark, path)
    t.delete("id = 2")
    write_delta(
        spark.createDataFrame([(20, (10.0,), "y")], t.toDF().schema),
        path,
        mode="append",
    )
    ours = sorted(
        (r["id"], r["info"]["score"], r["part"]) for r in t.toDF().collect()
    )
    theirs = foreign_read_rows_by_field_id(path, ["id", "part"])
    assert [(k, p) for k, _s, p in ours] == [(1, "x"), (3, "y"), (20, "y")]
    assert theirs == [(1, "x"), (3, "y"), (20, "y")]


def test_column_mapping_id_datasource_matches_todf(spark, tmpdir_path):
    """Round 9 gave the Python datasource a field-id matcher (it used
    to refuse id-mode tables): its read must agree with toDF()'s
    field-id child-session read on the same foreign fixture."""
    from jodie_spark.sources.datasource import register

    path = _mk_id_mapped_table(tmpdir_path, spark)
    register(spark)
    via_ds = sorted(
        (r["id"], r["info"]["score"], r["part"])
        for r in spark.read.format("jodie_delta").load(path).collect()
    )
    via_todf = sorted(
        (r["id"], r["info"]["score"], r["part"])
        for r in DeltaTable.forPath(spark, path).toDF().collect()
    )
    assert via_ds == via_todf == [(1, 0.5, "x"), (2, 1.0, "x"), (3, 1.5, "y")]


def _mk_dv_table(tmpdir_path, name="dvt"):
    """Hand-built DV table: three files of ids 0-9 / 10-19 / 20-29;
    file 0 has an on-disk 'u'-storage DV deleting {1,3,5}, file 1 an
    inline DV deleting {10,19} (relative ids 0 and 9), file 2 no DV."""
    import json
    import struct
    import uuid as uuid_mod
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from jodie_spark.tables.deletion_vectors import (
        inline_descriptor,
        serialize_roaring_bitmap_array,
    )
    from tests.interop_golden import z85

    path = os.path.join(tmpdir_path, name)
    log_dir = os.path.join(path, "_delta_log")
    os.makedirs(log_dir)
    adds = []
    for i, dv_desc in ((0, "ondisk"), (1, "inline"), (2, None)):
        rel = f"part-{i}.parquet"
        pq.write_table(
            pa.table({"id": pa.array(range(i * 10, i * 10 + 10), pa.int64())}),
            os.path.join(path, rel),
        )
        add = {
            "path": rel,
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(path, rel)),
            "modificationTime": 0,
            "dataChange": True,
        }
        if dv_desc == "ondisk":
            u = uuid_mod.uuid4()
            data = serialize_roaring_bitmap_array([1, 3, 5])
            with open(os.path.join(path, f"deletion_vector_{u}.bin"), "wb") as fh:
                fh.write(bytes([1]))
                fh.write(struct.pack(">i", len(data)))
                fh.write(data)
                fh.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
            add["deletionVector"] = {
                "storageType": "u",
                "pathOrInlineDv": z85(u.bytes),
                "offset": 1,
                "sizeInBytes": len(data),
                "cardinality": 3,
            }
        elif dv_desc == "inline":
            add["deletionVector"] = inline_descriptor([0, 9], use_runs=True)
        adds.append(add)

    meta = {
        "id": "dv1",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(
            {"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
        ),
        "partitionColumns": [],
        "configuration": {},
        "createdTime": 0,
    }
    with open(os.path.join(log_dir, "%020d.json" % 0), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        }}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        for a in adds:
            fh.write(json.dumps({"add": a}) + "\n")
    return path


def test_deletion_vector_read(spark, tmpdir_path):
    path = _mk_dv_table(tmpdir_path)
    expected = sorted(set(range(30)) - {1, 3, 5, 10, 19})

    got = sorted(r["id"] for r in DeltaTable.forPath(spark, path).toDF().collect())
    assert got == expected

    # the jodie_delta DataSource applies the same mask executor-side
    from jodie_spark.sources.datasource import register

    register(spark)
    got_ds = sorted(
        r["id"] for r in spark.read.format("jodie_delta").load(path).collect()
    )
    assert got_ds == expected


def test_deletion_vector_roundtrip_formats(spark, tmpdir_path):
    from jodie_spark.tables.deletion_vectors import (
        DeletionVectorError,
        dv_absolute_path,
        parse_roaring_bitmap_array,
        read_dv_bytes,
        serialize_roaring_bitmap_array,
        write_dv_file,
    )

    # bitmap container (>4096 dense), run container, multi-high-word
    cases = [
        list(range(5000)),
        list(range(100, 200)),
        [0, (1 << 32) + 1, (2 << 32) + 2],
    ]
    for c in cases:
        assert parse_roaring_bitmap_array(serialize_roaring_bitmap_array(c)) == c
        assert parse_roaring_bitmap_array(
            serialize_roaring_bitmap_array(c, use_runs=True)
        ) == c

    desc = write_dv_file(tmpdir_path, [7, 8, 9])
    assert parse_roaring_bitmap_array(read_dv_bytes(tmpdir_path, desc)) == [7, 8, 9]
    p = dv_absolute_path(tmpdir_path, desc)

    # corrupted checksum is refused, not silently parsed
    with open(p, "r+b") as fh:
        fh.seek(6)
        b = fh.read(1)
        fh.seek(6)
        fh.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(DeletionVectorError, match="checksum"):
        read_dv_bytes(tmpdir_path, desc)


def test_idempotent_txn_writes(spark, tmpdir_path):
    """txnAppId/txnVersion writes: a retried (appId, version) is a no-op
    (delta-spark idempotent-write parity)."""
    import pytest as _pytest

    from jodie_spark.errors import JodieValidationError

    p = os.path.join(tmpdir_path, "txn")
    df1 = spark.createDataFrame([(1,)], "x int")
    write_delta(df1, p, options={"txnAppId": "job", "txnVersion": 1})
    t = DeltaTable.forPath(spark, p)
    assert t.toDF().count() == 1
    # retry of version 1: silently skipped
    write_delta(df1, p, mode="append", options={"txnAppId": "job", "txnVersion": 1})
    assert t.toDF().count() == 1
    # next version applies
    write_delta(df1, p, mode="append", options={"txnAppId": "job", "txnVersion": 2})
    assert t.toDF().count() == 2
    # other appIds are independent
    write_delta(df1, p, mode="append", options={"txnAppId": "other", "txnVersion": 1})
    assert t.toDF().count() == 3
    # stale version for 'job' still skipped after other's commit
    write_delta(df1, p, mode="append", options={"txnAppId": "job", "txnVersion": 2})
    assert t.toDF().count() == 3
    # option pair must come together
    with _pytest.raises(JodieValidationError, match="together"):
        write_delta(df1, p, mode="append", options={"txnAppId": "job"})
    # txn options are not persisted as table properties
    assert "txnAppId" not in t.snapshot().configuration


def test_fsck_detects_and_repairs_missing_files(spark, tmpdir_path):
    import glob as _glob

    p = os.path.join(tmpdir_path, "fsck")
    write_delta(spark.range(100).repartition(4), p)
    t = DeltaTable.forPath(spark, p)
    assert t.fsck() == []  # healthy table
    victim = sorted(_glob.glob(p + "/*.parquet"))[0]
    os.remove(victim)
    missing = t.fsck()  # dry run: reports, commits nothing
    assert len(missing) == 1
    v = t.deltaLog.latest_version()
    repaired = t.fsck(dry_run=False)
    assert repaired == missing
    assert t.deltaLog.latest_version() == v + 1
    t2 = DeltaTable.forPath(spark, p)
    assert t2.fsck() == []
    n = t2.toDF().count()
    assert 0 < n < 100  # survivors readable, victim's rows gone
    assert t2.history().collect()[0]["operation"] == "FSCK"


def test_fsck_flags_missing_dv_file(spark, tmpdir_path):
    import glob as _glob

    p = os.path.join(tmpdir_path, "fsckdv")
    write_delta(spark.range(100).selectExpr("id", "id % 5 as m"), p)
    t = DeltaTable.forPath(spark, p)
    t.delete("m = 2", deletion_vectors=True)
    for dv in _glob.glob(p + "/deletion_vectors/*.bin"):
        os.remove(dv)
    missing = t.fsck()
    assert missing  # data files whose DVs are gone are unreadable-safe


def test_in_commit_timestamps_read_support(spark, tmpdir_path):
    """Tables with the inCommitTimestamp feature (delta-spark 3.3+
    default) resolve time travel and history from the authoritative
    monotonic commit clock, not the file wall clock; writes refuse
    (this engine does not MAINTAIN the feature)."""
    import json as _json

    from jodie_spark.errors import DeltaProtocolError

    p = os.path.join(tmpdir_path, "ict")
    write_delta(spark.createDataFrame([(1,)], "x int"), p)
    t = DeltaTable.forPath(spark, p)
    t.update(None, {"x": "x + 1"})
    # retrofit ICT: mark the protocol + stamp monotonic timestamps far
    # in the future so the distinction from file time is observable
    log_dir = os.path.join(p, "_delta_log")
    for v, ict in ((0, 4102444800000), (1, 4102444900000)):  # year 2100
        f = os.path.join(log_dir, "%020d.json" % v)
        lines = open(f).read().splitlines()
        out = []
        for line in lines:
            a = _json.loads(line)
            if "commitInfo" in a:
                a["commitInfo"]["inCommitTimestamp"] = ict
            if v == 0 and "protocol" in a:
                a["protocol"] = {
                    "minReaderVersion": 1, "minWriterVersion": 7,
                    "writerFeatures": ["inCommitTimestamp", "appendOnly"],
                }
            out.append(_json.dumps(a))
        with open(f, "w") as fh:
            fh.write("\n".join(out) + "\n")
    t2 = DeltaTable.forPath(spark, p)
    # time travel by ICT: between the two stamps resolves to version 0
    assert t2.deltaLog.version_at_timestamp(4102444850000) == 0
    assert t2.deltaLog.version_at_timestamp(4102444900000) == 1
    # history shows the ICT clock
    rows = {r["version"]: r["timestamp"] for r in t2.history().collect()}
    assert rows[0].year == 2100
    # writes MAINTAIN the feature: the new commit is stamped strictly
    # after the predecessor's 2100-era clock (not wall time)
    t2.update(None, {"x": "x + 1"})
    import json as _json2

    newest = os.path.join(log_dir, "%020d.json" % t2.deltaLog.latest_version())
    ict = None
    for line in open(newest):
        a = _json2.loads(line)
        if "commitInfo" in a:
            ict = a["commitInfo"].get("inCommitTimestamp")
    assert ict == 4102444900001  # prev + 1 (wall clock is far behind 2100)


def test_legacy_implied_features_accepted_and_real_invariants_refused(spark, tmpdir_path):
    """delta-spark v7 tables routinely list invariants +
    vacuumProtocolCheck as implied features — writable as long as no
    invariant EXPRESSION is declared; a declared one refuses."""
    import json as _json

    from jodie_spark.errors import DeltaProtocolError
    from jodie_spark.tables.log import commit_file_name

    t = _mk(spark, tmpdir_path, [(1,)], "x int", name="legacyfeat")
    v = t.deltaLog.latest_version() + 1
    with open(os.path.join(t.deltaLog.log_path, commit_file_name(v)), "w") as fh:
        fh.write(_json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["appendOnly", "invariants", "vacuumProtocolCheck"],
        }}) + "\n")
    write_delta(spark.createDataFrame([(2,)], "x int"), t.path, mode="append")
    assert sorted(r["x"] for r in DeltaTable.forPath(spark, t.path).toDF().collect()) == [1, 2]

    # now declare an actual invariant expression in the schema metadata
    v2 = t.deltaLog.latest_version() + 1
    schema = {
        "type": "struct",
        "fields": [{
            "name": "x", "type": "integer", "nullable": True,
            "metadata": {"delta.invariants": '{"expression":{"expression":"x > 0"}}'},
        }],
    }
    meta = dict(DeltaTable.forPath(spark, t.path).snapshot().metadata)
    meta["schemaString"] = _json.dumps(schema)
    with open(os.path.join(t.deltaLog.log_path, commit_file_name(v2)), "w") as fh:
        fh.write(_json.dumps({"metaData": meta}) + "\n")
    with pytest.raises(DeltaProtocolError, match="invariants"):
        write_delta(spark.createDataFrame([(3,)], "x int"), t.path, mode="append")


def test_data_skipping_num_indexed_cols(spark, tmpdir_path):
    """delta.dataSkippingNumIndexedCols bounds per-file stats to the
    first N columns; predicates on unindexed columns stay correct
    (no stats -> conservative keep, never wrong pruning)."""
    import json as _json

    p = os.path.join(tmpdir_path, "idxcols")
    write_delta(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k int, v string, n int"),
        p,
        options={"delta.dataSkippingNumIndexedCols": "2"},
    )
    write_delta(
        spark.createDataFrame([(3, "c", 30), (4, "d", 40)], "k int, v string, n int"),
        p,
        mode="append",
    )
    t = DeltaTable.forPath(spark, p)
    appended = [
        a for a in t.snapshot().add_files()
        if _json.loads(a["stats"])["numRecords"] == 2
        and "30" in str(_json.loads(a["stats"])["minValues"].get("n", ""))
    ]
    # the appended file indexes k and v but NOT n
    stats = [_json.loads(a["stats"]) for a in t.snapshot().add_files()]
    later = [s for s in stats if s["minValues"].get("k") == 3]
    assert later and "n" not in later[0]["minValues"]
    assert "k" in later[0]["minValues"] and "v" in later[0]["minValues"]
    # DML on the unindexed column still exact
    t.delete("n = 30")
    assert sorted(r["k"] for r in t.toDF().collect()) == [1, 2, 4]


def test_auto_compact_triggers_on_small_file_buildup(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "autocompact")
    write_delta(
        spark.createDataFrame([(0,)], "k int"),
        p,
        options={
            "delta.autoOptimize.autoCompact": "true",
            "jodie.autoCompact.minNumFiles": "4",
        },
    )
    t = DeltaTable.forPath(spark, p)
    for i in range(1, 4):
        write_delta(spark.createDataFrame([(i,)], "k int"), p, mode="append")
    t = DeltaTable.forPath(spark, p)
    # 4 small files crossed the threshold: the last append auto-compacted
    assert t.history(1).collect()[0]["operation"] == "OPTIMIZE"
    assert len(t.snapshot().add_files()) == 1
    assert sorted(r["k"] for r in t.toDF().collect()) == [0, 1, 2, 3]


def test_auto_compact_off_by_default(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "noautoc")
    write_delta(spark.createDataFrame([(0,)], "k int"), p)
    for i in range(1, 4):
        write_delta(spark.createDataFrame([(i,)], "k int"), p, mode="append")
    t = DeltaTable.forPath(spark, p)
    assert t.history(1).collect()[0]["operation"] == "WRITE"
    assert len(t.snapshot().add_files()) == 4


def test_auto_compact_failure_warns_and_keeps_the_write(spark, tmpdir_path, monkeypatch):
    """Auto compaction is best effort: a failure leaves the triggering
    append committed and says so in a RuntimeWarning naming table@version."""
    import jodie_spark.tables.table as table_mod

    p = os.path.join(tmpdir_path, "autocompact_fails")
    write_delta(
        spark.createDataFrame([(0,)], "k int"),
        p,
        options={
            "delta.autoOptimize.autoCompact": "true",
            "jodie.autoCompact.minNumFiles": "2",
        },
    )

    def broken(self, target_file_size=None):
        raise OSError("disk full")

    monkeypatch.setattr(table_mod.OptimizeBuilder, "executeCompaction", broken)
    with pytest.warns(
        RuntimeWarning, match=r"@1: auto compaction failed — OSError: disk full"
    ):
        write_delta(spark.createDataFrame([(1,)], "k int"), p, mode="append")
    t = DeltaTable.forPath(spark, p)
    assert t.history(1).collect()[0]["operation"] == "WRITE"
    assert sorted(r["k"] for r in t.toDF().collect()) == [0, 1]


def test_protocol_upgrades_carry_legacy_implied_features():
    """ADVICE r3: an upgrade from reader 2 / writer 5 must carry the
    legacy-implied columnMapping (writer AND reader side) + invariants,
    or external readers treat physical-named columns as logical ones.
    Every upgrade now comes from the one rule, log.required_protocol."""
    from jodie_spark.tables.log import legacy_implied_features, required_protocol

    def meta(**conf):
        return {"configuration": conf, "schemaString": '{"type":"struct","fields":[]}'}

    base = {"minReaderVersion": 2, "minWriterVersion": 5}
    wf, rf = legacy_implied_features(base)
    assert {"appendOnly", "invariants", "checkConstraints", "changeDataFeed",
            "generatedColumns", "columnMapping"} <= wf
    assert rf == {"columnMapping"}

    up = required_protocol(base, meta(**{"delta.enableTypeWidening": "true"}), [])
    assert "columnMapping" in up["writerFeatures"]
    assert "invariants" in up["writerFeatures"]
    # reader stays at 2 here, so readerFeatures may be absent — but if
    # present it must include the implied columnMapping
    if up["minReaderVersion"] >= 3:
        assert "columnMapping" in up.get("readerFeatures", [])

    dv_add = {"add": {"path": "f.parquet", "deletionVector": {"storageType": "u"}}}
    dv = required_protocol(base, None, [dv_add])
    assert dv["minReaderVersion"] == 3
    assert "columnMapping" in dv["readerFeatures"]
    assert "columnMapping" in dv["writerFeatures"]
    assert "identityColumns" not in dv["writerFeatures"]  # writer 5 < 6

    # (2,5) already holds columnMapping: a mapping-only need keeps it;
    # with a writer-7 need alongside, columnMapping is written out
    assert required_protocol(base, meta(**{"delta.columnMapping.mode": "name"}), []) == base
    cm = required_protocol(
        base,
        meta(**{"delta.columnMapping.mode": "name", "delta.enableRowTracking": "true"}),
        [],
    )
    assert "columnMapping" in cm["readerFeatures"]
    assert "invariants" in cm["writerFeatures"]

    # writer 6 additionally implies identityColumns
    base6 = {"minReaderVersion": 2, "minWriterVersion": 6}
    up6 = required_protocol(base6, meta(**{"delta.enableTypeWidening": "true"}), [])
    assert "identityColumns" in up6["writerFeatures"]


def test_spark_planned_dml_preserves_deletion_vectors(spark, tmpdir_path, monkeypatch):
    """Candidates from the Spark-side (large-log) planner must carry
    deletionVector descriptors: a CoW UPDATE on a DV'd table planned
    Spark-side would otherwise resurrect the MoR-deleted rows."""
    import os as _os

    import jodie_spark.tables.table as table_mod
    from jodie_spark.tables.table import DeltaTable, write_delta

    p = _os.path.join(tmpdir_path, "dv_sparkplan")
    write_delta(spark.range(10).selectExpr("id", "id as v").coalesce(1), p)
    t = DeltaTable.forPath(spark, p)
    t.delete("id % 2 = 1", deletion_vectors=True)
    assert sorted(r["id"] for r in t.toDF().collect()) == [0, 2, 4, 6, 8]

    monkeypatch.setattr(table_mod, "_DRIVER_PLAN_MAX_LOG_BYTES", 0)
    # CoW update reads candidates through the Spark-side plan; the DV
    # must still mask rows 1,3,5,7,9
    DeltaTable.forPath(spark, p).update("id >= 0", {"v": "v + 100"})
    rows = sorted((r["id"], r["v"]) for r in DeltaTable.forPath(spark, p).toDF().collect())
    assert rows == [(0, 100), (2, 102), (4, 104), (6, 106), (8, 108)]


def test_optimize_write_rebalances_small_appends(spark, tmpdir_path):
    """delta.autoOptimize.optimizeWrite: a small append arriving in many
    shuffle partitions lands as one right-sized file (AQE rebalance),
    instead of one shard per task; without the property the write keeps
    its natural partitioning. Partitioned tables rebalance per
    partition column — one file per partition value."""
    on = os.path.join(tmpdir_path, "ow_on")
    off = os.path.join(tmpdir_path, "ow_off")
    df = spark.range(1000).selectExpr("id", "id % 3 as p").repartition(16)
    write_delta(df, on, options={"delta.autoOptimize.optimizeWrite": "true"})
    write_delta(df, off)
    write_delta(df, on, mode="append")
    write_delta(df, off, mode="append")
    n_on = len(DeltaTable.forPath(spark, on).snapshot().add_files())
    n_off = len(DeltaTable.forPath(spark, off).snapshot().add_files())
    # first write creates the table (no config yet at write time), the
    # append rebalances: 16-shard append collapses to 1 file
    assert n_on < n_off
    assert n_on <= 17  # 16 (create) + 1 (rebalanced append)
    assert sorted(r["id"] for r in DeltaTable.forPath(spark, on).toDF().collect()) == sorted(
        list(range(1000)) * 2
    )
    # partitioned: one file per partition value after the append
    part = os.path.join(tmpdir_path, "ow_part")
    write_delta(
        df,
        part,
        partition_by=["p"],
        options={"delta.autoOptimize.optimizeWrite": "true"},
    )
    before = len(DeltaTable.forPath(spark, part).snapshot().add_files())
    write_delta(df, part, mode="append")
    after = len(DeltaTable.forPath(spark, part).snapshot().add_files())
    assert after - before == 3  # one rebalanced file per partition value


def test_drop_feature_deletion_vectors(spark, tmpdir_path):
    """ALTER TABLE DROP FEATURE deletionVectors: REORG PURGE retires
    every on-disk DV, the protocol loses the feature from BOTH sets and
    gains checkpointProtection, and a checkpoint at the downgrade
    version seeds fresh readers past the feature-bearing history."""
    from jodie_spark.errors import DeltaProtocolError

    p = os.path.join(tmpdir_path, "dropdv")
    write_delta(spark.range(100).selectExpr("id", "id * 2 as v"), p)
    t = DeltaTable.forPath(spark, p)
    t.delete("id % 10 = 3", deletion_vectors=True)
    snap = t.snapshot()
    assert any(a.get("deletionVector") for a in snap.add_files())
    t.drop_feature("deletionVectors")
    t2 = DeltaTable.forPath(spark, p)
    snap = t2.snapshot()
    assert not any(a.get("deletionVector") for a in snap.add_files())
    proto = snap.protocol
    assert "deletionVectors" not in (proto.get("writerFeatures") or [])
    assert "deletionVectors" not in (proto.get("readerFeatures") or [])
    assert "checkpointProtection" in proto["writerFeatures"]
    cfg = snap.configuration
    assert cfg["delta.requireCheckpointProtectionBeforeVersion"] == str(snap.version)
    assert sorted(r["id"] for r in t2.toDF().collect()) == [
        i for i in range(100) if i % 10 != 3
    ]
    # checkpoint written at the downgrade version
    assert t2.deltaLog.list_checkpoint_versions()[-1] == snap.version
    # dropping an absent feature refuses
    with pytest.raises(DeltaProtocolError, match="not present"):
        t2.drop_feature("deletionVectors")
    # a full-rewrite feature refuses with the reason
    with pytest.raises(DeltaProtocolError, match="not supported"):
        t2.drop_feature("columnMapping")


def test_drop_feature_checkpoint_failure_warns(spark, tmpdir_path, monkeypatch):
    """The post-drop checkpoint is best effort: when it fails the drop
    stands, and a RuntimeWarning names table@version and the error."""
    from jodie_spark.tables.log import DeltaLog

    p = os.path.join(tmpdir_path, "drop_ckpt_fails")
    write_delta(
        spark.range(5).selectExpr("id"),
        p,
        options={"delta.enableChangeDataFeed": "true"},
    )

    def broken(self, version=None, spark=None):
        raise OSError("disk full")

    monkeypatch.setattr(DeltaLog, "write_checkpoint", broken)
    with pytest.warns(
        RuntimeWarning, match=r"@1: post-drop checkpoint failed — OSError: disk full"
    ):
        DeltaTable.forPath(spark, p).drop_feature("changeDataFeed")
    snap = DeltaTable.forPath(spark, p).snapshot()
    assert snap.version == 1
    assert "changeDataFeed" not in (snap.protocol.get("writerFeatures") or [])


def test_drop_feature_v2_checkpoint_and_cdf(spark, tmpdir_path):
    from jodie_spark.operators.cdf import ChangeDataFeedHelper

    p = os.path.join(tmpdir_path, "dropv2")
    write_delta(
        spark.range(20).selectExpr("id"),
        p,
        options={
            "delta.checkpointPolicy": "v2",
            "delta.enableChangeDataFeed": "true",
        },
    )
    t = DeltaTable.forPath(spark, p)
    t.delete("id = 5")  # v1, with cdc
    t.drop_feature("v2Checkpoint")
    snap = DeltaTable.forPath(spark, p).snapshot()
    assert snap.configuration.get("delta.checkpointPolicy") == "classic"
    assert "v2Checkpoint" not in (snap.protocol.get("writerFeatures") or [])
    t = DeltaTable.forPath(spark, p)
    t.drop_feature("changeDataFeed")
    snap = DeltaTable.forPath(spark, p).snapshot()
    assert snap.configuration.get("delta.enableChangeDataFeed") == "false"
    assert "changeDataFeed" not in (snap.protocol.get("writerFeatures") or [])
    # the pre-drop change history is still readable
    cdf = ChangeDataFeedHelper(spark, p, 0, 1).read_cdf()
    assert {r["_change_type"] for r in cdf.collect()} >= {"insert", "delete"}
    # and the table still accepts plain writes post-downgrade
    write_delta(spark.range(20, 25).selectExpr("id"), p, mode="append")
    assert DeltaTable.forPath(spark, p).toDF().count() == 24


def test_drop_feature_v7_no_spurious_legacy_features(spark, tmpdir_path):
    """Regression (round 7): DROP FEATURE on a table that is ALREADY
    writer 7 / reader 3 must not expand the legacy version→feature map —
    a v7 protocol's feature lists are explicit and exhaustive
    (PROTOCOL.md table features). The old behavior committed a
    downgrade protocol with spurious appendOnly/invariants/
    checkConstraints/changeDataFeed/generatedColumns/columnMapping/
    identityColumns entries, locking out foreign readers/writers that
    gate on features they do not support."""
    p = os.path.join(tmpdir_path, "dropv7clean")
    write_delta(
        spark.range(10).selectExpr("id"),
        p,
        options={"delta.checkpointPolicy": "v2"},
    )
    t = DeltaTable.forPath(spark, p)
    before = dict(t.snapshot().protocol)
    assert int(before["minWriterVersion"]) == 7  # v2Checkpoint forces v7
    t.drop_feature("v2Checkpoint")
    proto = DeltaTable.forPath(spark, p).snapshot().protocol
    spurious = {
        "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns", "columnMapping", "identityColumns",
    }
    wfeat = set(proto.get("writerFeatures") or [])
    rfeat = set(proto.get("readerFeatures") or [])
    # post-drop lists = pre-drop lists − v2Checkpoint + checkpointProtection
    assert not (wfeat & spurious - set(before.get("writerFeatures") or []))
    assert "columnMapping" not in rfeat
    assert wfeat == (
        set(before.get("writerFeatures") or []) - {"v2Checkpoint"}
    ) | {"checkpointProtection"}
    assert rfeat == set(before.get("readerFeatures") or []) - {"v2Checkpoint"}


@pytest.mark.parametrize("writer", ["spark", "pyarrow", "v2", "v2_spark"])
def test_checkpoint_preserves_protocol_feature_lists(spark, tmpdir_path, writer):
    """Regression (round 6): the checkpoint schema used to drop
    readerFeatures/writerFeatures, so any snapshot seeded from one of
    OUR checkpoints showed a v7 protocol with no features — a foreign
    reader could then write incompatibly, and feature gates would
    mis-fire. Both writers (Spark, driver-side pyarrow) in both layouts
    (classic, v2 manifest+sidecars) must round-trip the lists."""
    from jodie_spark.tables.log import DeltaLog

    p = os.path.join(tmpdir_path, f"ckpt_proto_{writer}")
    opts = {"delta.checkpointPolicy": "v2"} if writer.startswith("v2") else None
    write_delta(spark.range(30).selectExpr("id"), p, options=opts)
    t = DeltaTable.forPath(spark, p)
    t.delete("id % 7 = 0", deletion_vectors=True)  # upgrades to r3/w7 + DV
    before = DeltaTable.forPath(spark, p).snapshot().protocol
    assert "deletionVectors" in before["writerFeatures"]
    log = DeltaLog(p)
    v = log.write_checkpoint(spark=(spark if writer.endswith("spark") else False))
    # force the checkpoint to be the snapshot's only protocol source
    for dead in range(v):
        f = log.commit_file_path(dead)
        if os.path.exists(f):
            os.remove(f)
    cold = DeltaLog(p).snapshot()
    assert cold.protocol.get("writerFeatures") == before.get("writerFeatures")
    assert cold.protocol.get("readerFeatures") == before.get("readerFeatures")
    assert sorted(r["id"] for r in DeltaTable.forPath(spark, p).toDF().collect()) == [
        i for i in range(30) if i % 7 != 0
    ]


def test_restore_timestamp_as_of(spark, tmpdir_path):
    """RESTORE ... TIMESTAMP AS OF resolves through the commit clock
    (python + SQL surfaces) and round-trips the v0 contents."""
    import os

    from jodie_spark import sql

    p = os.path.join(tmpdir_path, "rts")
    write_delta(spark.createDataFrame([(1,), (2,)], "k int"), p)
    t = DeltaTable.forPath(spark, p)
    t.delete("k = 1")
    ts0 = {r["version"]: r["timestamp"] for r in t.history().collect()}[0]
    DeltaTable.forPath(spark, p).restore(timestamp=ts0.isoformat())
    assert sorted(r["k"] for r in DeltaTable.forPath(spark, p).toDF().collect()) == [1, 2]
    # SQL surface: drop back to the post-delete state via its stamp
    ts1 = {r["version"]: r["timestamp"] for r in DeltaTable.forPath(spark, p).history().collect()}[1]
    sql(spark, f"RESTORE TABLE delta.`{p}` TO TIMESTAMP AS OF '{ts1.isoformat()}'")
    assert sorted(r["k"] for r in DeltaTable.forPath(spark, p).toDF().collect()) == [2]
    import pytest as _pytest

    from jodie_spark.errors import JodieValidationError

    with _pytest.raises(JodieValidationError, match="version or timestamp"):
        DeltaTable.forPath(spark, p).restore()


def test_write_delta_on_dotted_column_names(spark, tmpdir_path):
    """A column named ``a.b`` is one name, never a struct path, on every
    write_delta path: create with a NOT NULL column, append (with a
    narrower incoming type up-cast), and create with generated columns
    and column defaults stamped into the field metadata."""
    from pyspark.sql import types as T

    p = os.path.join(tmpdir_path, "dotted")
    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("a.b", T.LongType(), False)]
    )
    write_delta(spark.createDataFrame([(1, 10)], schema), p)
    write_delta(spark.createDataFrame([(2, 20)], schema), p, mode="append")
    write_delta(
        spark.createDataFrame([(3, 30)], "k long, `a.b` int"), p, mode="append"
    )
    t = DeltaTable.forPath(spark, p)
    assert sorted(tuple(r) for r in t.toDF().collect()) == [(1, 10), (2, 20), (3, 30)]
    assert not t.schema()["a.b"].nullable

    g = os.path.join(tmpdir_path, "dotted_generated")
    write_delta(
        spark.createDataFrame([(1, 5)], "`x.y` long, `d.e` long"),
        g,
        generated_columns={"g.h": "`x.y` * 2"},
        column_defaults={"d.e": "7"},
    )
    write_delta(
        spark.createDataFrame([(2, 2, 4)], "`x.y` long, `d.e` long, `g.h` long"),
        g,
        mode="append",
    )
    write_delta(spark.createDataFrame([(3,)], "`x.y` long"), g, mode="append")
    t = DeltaTable.forPath(spark, g)
    fields = {f.name: f.metadata for f in t.schema().fields}
    assert fields["g.h"]["delta.generationExpression"] == "`x.y` * 2"
    assert fields["d.e"]["CURRENT_DEFAULT"] == "7"
    assert sorted(tuple(r) for r in t.toDF().select("`x.y`", "`d.e`", "`g.h`").collect()) == [
        (1, 5, 2), (2, 2, 4), (3, 7, 6)
    ]
