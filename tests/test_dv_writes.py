"""Merge-on-read DELETE via deletion vectors (write side)."""

import glob
import json
import os

import pytest

from conftest import py4j_round_trips, spark_jobs
from jodie_spark.tables.deletion_vectors import dv_absolute_path
from jodie_spark.tables.table import DeltaTable, write_delta


@pytest.fixture()
def table(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "t")
    write_delta(spark.range(1000).selectExpr("id", "id % 10 as m"), p)
    return DeltaTable.forPath(spark, p)


def test_dv_delete_leaves_files_in_place(spark, table):
    n_files = len(glob.glob(table.path + "/*.parquet"))
    table.delete("m = 3", deletion_vectors=True)
    assert table.toDF().count() == 900
    assert len(glob.glob(table.path + "/*.parquet")) == n_files  # no rewrite
    assert glob.glob(table.path + "/deletion_vectors/*.bin")
    m = table.history().collect()[0]["operationMetrics"]
    assert m["numDeletedRows"] == "100"
    assert m["numRemovedFiles"] == "0"
    assert int(m["numDeletionVectorsAdded"]) > 0


def test_dv_delete_upgrades_protocol(spark, table):
    table.delete("m = 0", deletion_vectors=True)
    proto = table.snapshot().protocol
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]
    assert "deletionVectors" in proto["writerFeatures"]


def test_dv_delete_merges_and_is_idempotent(spark, table):
    table.delete("m = 3", deletion_vectors=True)
    table.delete("m = 5", deletion_vectors=True)
    assert table.toDF().count() == 800
    table.delete("m = 5", deletion_vectors=True)  # re-delete: true no-op
    assert table.toDF().count() == 800
    m = table.history().collect()[0]["operationMetrics"]
    assert m["numDeletedRows"] == "0"
    # already-deleted rows are anti-filtered before matching, so the
    # re-delete rewrites no DV at all (metadata-only commit)
    assert m["numDeletionVectorsAdded"] == "0"
    # overlapping (not identical) predicate still merges into the DVs
    table.delete("m in (5, 7)", deletion_vectors=True)
    assert table.toDF().count() == 700
    m2 = table.history().collect()[0]["operationMetrics"]
    assert m2["numDeletedRows"] == "100"
    assert int(m2["numDeletionVectorsUpdated"]) > 0


def test_rewrite_dml_on_dv_table_drops_dvs_without_resurrection(spark, table):
    table.delete("m = 3", deletion_vectors=True)
    # update rewrites touched files; DV-deleted rows must NOT come back
    table.update("id = 4", {"m": "99"})
    assert table.toDF().count() == 900
    assert table.toDF().filter("m = 3").count() == 0
    assert table.toDF().filter("m = 99").count() == 1
    # compaction purges DVs entirely (delta parity)
    table.optimize().executeCompaction()
    assert table.toDF().count() == 900
    latest = table.snapshot().add_files()
    assert all(not a.get("deletionVector") for a in latest)


def test_dv_delete_no_matches_is_metadata_only(spark, table):
    v0 = table.deltaLog.latest_version()
    table.delete("m = 42", deletion_vectors=True)
    assert table.toDF().count() == 1000
    m = table.history().collect()[0]["operationMetrics"]
    assert m["numDeletedRows"] == "0"
    assert table.deltaLog.latest_version() == v0 + 1


def test_dv_delete_composes_with_cdf(spark, tmpdir_path):
    """MoR delete writes DVs AND delete change rows from the matched scan."""
    import glob as _glob

    from jodie_spark.operators.cdf import read_cdf

    p = os.path.join(tmpdir_path, "cdf")
    write_delta(
        spark.range(100).selectExpr("id", "id % 5 as m"),
        p,
        options={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable.forPath(spark, p)
    t.delete("m = 1", deletion_vectors=True)
    assert t.toDF().count() == 80
    assert _glob.glob(p + "/deletion_vectors/*.bin")  # genuinely MoR
    changes = read_cdf(spark, p, 1, 1).filter("_change_type = 'delete'")
    assert changes.count() == 20
    # MoR update with CDF: pre/post images recorded
    t.update("m = 2", {"m": "22"}, deletion_vectors=True)
    ch = read_cdf(spark, p, 2, 2)
    assert ch.filter("_change_type = 'update_preimage'").count() == 20
    assert ch.filter("_change_type = 'update_postimage' and m = 22").count() == 20


def test_dv_delete_readable_through_datasource(spark, table):
    from jodie_spark.sources.datasource import register

    table.delete("m = 7", deletion_vectors=True)
    register(spark)
    df = spark.read.format("jodie_delta").load(table.path)
    assert df.count() == 900
    assert df.filter("m = 7").count() == 0


def test_dv_update_writes_only_matched_rows(spark, table):
    n_files = len(glob.glob(table.path + "/*.parquet"))
    table.update("m = 3", {"m": "33"}, deletion_vectors=True)
    df = table.toDF()
    assert df.count() == 1000
    assert df.filter("m = 33").count() == 100
    assert df.filter("m = 3").count() == 0
    m = table.history().collect()[0]["operationMetrics"]
    assert m["numUpdatedRows"] == "100"
    assert m["numRemovedFiles"] == "0"  # no rewrite of untouched rows
    assert int(m["numDeletionVectorsAdded"]) > 0


def test_dv_update_does_not_resurrect_deleted_rows(spark, table):
    table.delete("m = 5", deletion_vectors=True)
    table.update("id < 100", {"m": "77"}, deletion_vectors=True)
    assert table.toDF().count() == 900
    # ids 0..99 minus the 10 already-deleted (m=5) rows
    assert table.toDF().filter("m = 77").count() == 90
    m = table.history().collect()[0]["operationMetrics"]
    assert m["numUpdatedRows"] == "90"


def test_dv_update_enforces_constraints(spark, table):
    t = DeltaTable.forPath(spark, table.path)
    t.add_check_constraint("m_small", "m < 100")
    with pytest.raises(Exception, match="m_small"):
        t.update("m = 3", {"m": "200"}, deletion_vectors=True)
    assert t.toDF().filter("m = 200").count() == 0
    assert t.toDF().count() == 1000  # nothing committed


def test_mor_merge_full_clause_set(spark, table):
    src = spark.createDataFrame(
        [(5, -1), (7, -1), (2000, 42)], ["id", "m"]
    )
    (
        table.alias("tg")
        .merge(src.alias("s"), "tg.id = s.id")
        .whenMatchedDelete("s.m < 0 and tg.id = 7")
        .whenMatchedUpdate(set={"m": "s.m"})
        .whenNotMatchedInsertAll()
        .execute(deletion_vectors=True)
    )
    df = table.toDF()
    assert df.count() == 1000  # -1 delete, +1 insert
    assert df.filter("id = 7").count() == 0
    assert df.filter("id = 5").collect()[0]["m"] == -1
    assert df.filter("id = 2000").collect()[0]["m"] == 42
    m = table.history().collect()[0]["operationMetrics"]
    assert (m["numTargetRowsUpdated"], m["numTargetRowsDeleted"], m["numTargetRowsInserted"]) == ("1", "1", "1")
    assert m["numTargetFilesRemoved"] == "0"
    assert int(m["numDeletionVectorsAdded"]) > 0


def test_mor_merge_multi_match_guard(spark, table):
    from jodie_spark.errors import MergeMultipleMatchesError

    dup = spark.createDataFrame([(5, 1), (5, 2)], ["id", "m"])
    with pytest.raises(MergeMultipleMatchesError):
        (
            table.alias("tg")
            .merge(dup.alias("s"), "tg.id = s.id")
            .whenMatchedUpdate(set={"m": "s.m"})
            .execute(deletion_vectors=True)
        )
    assert table.toDF().count() == 1000  # nothing committed


@pytest.mark.parametrize("allow", [False, True])
def test_mor_merge_counts_are_observations(spark, tmpdir_path, allow):
    """The action counts ride the data-file write and the multiple-match
    check the DV-marks action: 8 jobs with the check on or off (13 and
    10 when both were collect jobs)."""
    from conftest import spark_jobs

    p = os.path.join(tmpdir_path, "kv")
    write_delta(spark.range(100).selectExpr("id AS k", "id AS v").coalesce(1), p)
    t = DeltaTable.forPath(spark, p)
    src = spark.createDataFrame([(5, 50), (500, 1)], "k long, v long")

    def merge():
        (
            t.alias("t").merge(src.alias("s"), "t.k = s.k")
            .whenMatchedUpdate(set={"v": "s.v"})
            .whenNotMatchedInsertAll()
            .execute(deletion_vectors=True, allow_multiple_matches=allow)
        )

    assert spark_jobs(spark, merge) == 8
    m = t.history(1).collect()[0]["operationMetrics"]
    got = tuple(m[f"numTargetRows{a}"] for a in ("Updated", "Deleted", "Inserted"))
    assert got == ("1", "0", "1")
    assert sorted(tuple(r) for r in t.toDF().collect()) == sorted(
        [(i, 50 if i == 5 else i) for i in range(100)] + [(500, 1)]
    )


def test_mor_multi_match_guard_removes_its_dv_files(spark, table):
    """Two source rows mark one position: the bitmaps hold 2 new
    positions for 3 marked pairs, so the merge refuses before its
    commit and deletes the bitmaps it wrote."""
    from jodie_spark.errors import MergeMultipleMatchesError

    dup = spark.createDataFrame([(5, 1), (5, 2), (6, 3)], ["id", "m"])
    with pytest.raises(MergeMultipleMatchesError):
        (
            table.alias("tg")
            .merge(dup.alias("s"), "tg.id = s.id")
            .whenMatchedDelete("s.m = 3")
            .whenMatchedUpdate(set={"m": "s.m"})
            .execute(deletion_vectors=True)
        )
    assert table.deltaLog.latest_version() == 0
    assert glob.glob(os.path.join(table.path, "deletion_vectors", "*")) == []


def test_mor_merge_stacks_on_mor_delete(spark, table):
    table.delete("m = 3", deletion_vectors=True)  # 900 rows live
    # id=3 is DV-deleted (3 % 10 == 3); id=14 is live
    src = spark.createDataFrame([(3, 0), (14, 0)], ["id", "m"])
    (
        table.alias("tg")
        .merge(src.alias("s"), "tg.id = s.id")
        .whenMatchedUpdate(set={"m": "99"})
        .whenNotMatchedInsertAll()
        .execute(deletion_vectors=True)
    )
    df = table.toDF()
    # id=3 was DV-deleted → NOT matched → re-inserted with m=0;
    # id=14 matched → updated to 99
    assert df.count() == 901
    assert df.filter("id = 3").collect()[0]["m"] == 0
    assert df.filter("id = 14").collect()[0]["m"] == 99


def test_vacuum_sweeps_orphaned_dv_files(spark, table):
    table.delete("m = 3", deletion_vectors=True)
    table.delete("m = 5", deletion_vectors=True)  # supersedes the first DVs
    dv_dir = table.path + "/deletion_vectors"
    n_before = len(glob.glob(dv_dir + "/*.bin"))
    assert n_before > len(table.snapshot().add_files()) - 1  # orphans exist
    listed = table.vacuum(retention_hours=0, dry_run=True)
    assert any("deletion_vectors" in p for p in listed)
    table.vacuum(retention_hours=0)
    live = [
        a["deletionVector"]
        for a in table.snapshot().add_files()
        if a.get("deletionVector")
    ]
    remaining = set(glob.glob(dv_dir + "/*.bin"))
    assert remaining == {dv_absolute_path(table.path, d) for d in live}
    assert table.toDF().count() == 800  # reads intact after the sweep


def test_dedup_operators_ride_deletion_vectors(spark, tmpdir_path):
    from jodie_spark.operators.dedup import (
        kill_duplicate_records,
        remove_duplicate_records,
    )
    from jodie_spark.tables.table import write_delta

    p = os.path.join(tmpdir_path, "dvdedup")
    rows = [(i, i % 7, "x") for i in range(50)] + [(100 + i, i, "x") for i in range(3)]
    write_delta(spark.createDataFrame(rows, ["pk", "k", "v"]), p)
    t = DeltaTable.forPath(spark, p)
    n_files = len(glob.glob(p + "/*.parquet"))
    kill_duplicate_records(t, ["k", "v"], deletion_vectors=True)
    # every k in 0..6 occurs >= 7 times → all killed; nothing rewritten
    assert t.toDF().count() == 0
    assert len(glob.glob(p + "/*.parquet")) == n_files
    m = t.history().collect()[0]["operationMetrics"]
    assert int(m["numDeletionVectorsAdded"]) > 0

    p2 = os.path.join(tmpdir_path, "dvdedup2")
    write_delta(spark.createDataFrame(rows, ["pk", "k", "v"]), p2)
    t2 = DeltaTable.forPath(spark, p2)
    remove_duplicate_records(t2, ["k"], primary_key="pk", deletion_vectors=True)
    assert t2.toDF().count() == 7  # one survivor per k
    assert t2.toDF().groupBy("k").count().filter("count > 1").count() == 0


def test_reorg_purge_materializes_deletions(spark, table):
    table.delete("m = 3", deletion_vectors=True)
    table.delete("m = 5", deletion_vectors=True)
    assert table.reorg_purge() > 0
    snap = table.snapshot()
    assert all(not a.get("deletionVector") for a in snap.add_files())
    assert table.toDF().count() == 800
    assert table.toDF().filter("m in (3, 5)").count() == 0
    h = table.history().collect()[0]
    assert h["operation"] == "REORG"
    # purge + vacuum releases both old data files and DV bitmaps
    table.vacuum(retention_hours=0)
    assert glob.glob(table.path + "/deletion_vectors/*.bin") == []
    assert table.toDF().count() == 800
    # idempotent: nothing left to purge
    assert table.reorg_purge() == 0


def test_restore_undoes_mor_delete(spark, tmpdir_path):
    """RESTORE across a deletion-vector commit must resurrect the DV'd
    rows: same path, different add payload — the by-path diff alone
    would miss it (regression from the log-replay fuzz)."""
    import os as _os

    from jodie_spark.tables.table import DeltaTable, write_delta

    p = _os.path.join(tmpdir_path, "restdv")
    write_delta(spark.range(10).selectExpr("id", "id as v").coalesce(1), p)
    t = DeltaTable.forPath(spark, p)
    t.delete("id % 2 = 1", deletion_vectors=True)
    assert t.toDF().count() == 5
    t.restore(0)
    t2 = DeltaTable.forPath(spark, p)
    assert sorted(r["id"] for r in t2.toDF().collect()) == list(range(10))
    # and restoring FORWARD to the DV state works too (DV file intact)
    t2.restore(1)
    assert DeltaTable.forPath(spark, p).toDF().count() == 5


def test_mor_dml_on_column_mapped_table(spark, tmpdir_path):
    """Round 4: deletion-vector DELETE/UPDATE work on column-mapped
    tables (previously forced copy-on-write): the coordinate scan reads
    physical names, conditions evaluate on logical names, and updated
    copies are written physical-named."""
    import os

    from jodie_spark.tables.table import DeltaTable, write_delta

    p = os.path.join(tmpdir_path, "mor_mapped")
    write_delta(
        spark.range(10).selectExpr("id", "id as v").coalesce(1),
        p,
        options={"delta.columnMapping.mode": "name"},
    )
    t = DeltaTable.forPath(spark, p)
    t.rename_column("v", "val")
    t = DeltaTable.forPath(spark, p)
    t.delete("id % 2 = 1", deletion_vectors=True)
    snap = DeltaTable.forPath(spark, p).snapshot()
    assert any(a.get("deletionVector") for a in snap.add_files())  # genuinely MoR, not a CoW fallback
    rows = sorted((r["id"], r["val"]) for r in DeltaTable.forPath(spark, p).toDF().collect())
    assert rows == [(0, 0), (2, 2), (4, 4), (6, 6), (8, 8)]

    DeltaTable.forPath(spark, p).update(
        "id = 2", {"val": "val + 100"}, deletion_vectors=True
    )
    rows = sorted((r["id"], r["val"]) for r in DeltaTable.forPath(spark, p).toDF().collect())
    assert rows == [(0, 0), (2, 102), (4, 4), (6, 6), (8, 8)]
    # REORG purges the DVs and keeps values
    DeltaTable.forPath(spark, p).reorg_purge()
    t2 = DeltaTable.forPath(spark, p)
    assert not any(a.get("deletionVector") for a in t2.snapshot().add_files())
    rows = sorted((r["id"], r["val"]) for r in t2.toDF().collect())
    assert rows == [(0, 0), (2, 102), (4, 4), (6, 6), (8, 8)]


def test_mor_dml_on_cdf_table_with_a_dotted_column_name(spark, tmpdir_path):
    """Change rows name every column as quoted text: a column named
    ``a.b`` is one column, not a field of ``a``."""
    from jodie_spark.operators.cdf import read_cdf

    p = os.path.join(tmpdir_path, "dotted")
    write_delta(
        spark.createDataFrame([(i, i) for i in range(10)], "k long, `a.b` long"),
        p,
        options={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable.forPath(spark, p)
    t.delete("k = 1", deletion_vectors=True)
    t.update("k = 2", {"a.b": "`a.b` + 100"}, deletion_vectors=True)
    assert sorted(tuple(r) for r in t.toDF().collect()) == sorted(
        (i, i + 100 * (i == 2)) for i in range(10) if i != 1
    )
    changes = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["a.b"])
        for r in read_cdf(spark, p, 1, 2).collect()
    )
    assert changes == [
        (1, "delete", 1, 1),
        (2, "update_postimage", 2, 102),
        (2, "update_preimage", 2, 2),
    ]


@pytest.mark.parametrize(
    "op, jobs, round_trips",
    [pytest.param("delete", 3, 39, id="delete"), pytest.param("update", 4, 44, id="update")],
)
def test_mor_dml_counts_pinned(spark, tmpdir_path, op, jobs, round_trips):
    """Spark jobs and py4j round trips of one merge-on-read DML over a
    one-file table: the bitmap write's grouping, and for UPDATE the
    write of the updated copy. Its scans load one path as a string, the
    scan it caches costs one ``cache()`` call, and the bitmap write's
    pandas UDF is built with no JVM lookups."""
    def run(name, count):
        p = os.path.join(tmpdir_path, name)
        write_delta(spark.range(100).selectExpr("id AS k", "id AS v").coalesce(1), p)
        t = DeltaTable.forPath(spark, p)
        if op == "delete":
            n = count(spark, lambda: t.delete("k = 5", deletion_vectors=True))
            want = [(i, i) for i in range(100) if i != 5]
        else:
            n = count(spark, lambda: t.update("k = 5", {"v": "v + 1000"}, deletion_vectors=True))
            want = [(i, i + 1000 * (i == 5)) for i in range(100)]
        assert sorted(tuple(r) for r in t.toDF().collect()) == want
        return n

    assert run("jobs", spark_jobs) == jobs
    assert run("py4j", py4j_round_trips) == round_trips


def test_dvs_follow_a_copied_table(spark, tmpdir_path):
    """Deletion vectors are named relative to the table root (the
    spec's ``u`` descriptor), so a copy of the table directory reads
    its own bitmaps once the original is gone, takes a further DV
    delete, and vacuum sweeps the bitmap that delete superseded."""
    import shutil

    src = os.path.join(tmpdir_path, "src")
    write_delta(spark.range(20).selectExpr("id AS k").coalesce(1), src)
    DeltaTable.forPath(spark, src).delete("k < 3", deletion_vectors=True)
    (add,) = DeltaTable.forPath(spark, src).snapshot().add_files()
    desc = add["deletionVector"]
    assert desc["storageType"] == "u"
    assert os.path.isfile(dv_absolute_path(src, desc))
    assert os.path.dirname(dv_absolute_path(src, desc)) == os.path.join(src, "deletion_vectors")

    dst = os.path.join(tmpdir_path, "dst")
    shutil.copytree(src, dst)
    shutil.rmtree(src)
    t = DeltaTable.forPath(spark, dst)
    assert sorted(r["k"] for r in t.toDF().collect()) == list(range(3, 20))
    t.delete("k = 10", deletion_vectors=True)
    want = [k for k in range(3, 20) if k != 10]
    assert sorted(r["k"] for r in t.toDF().collect()) == want
    assert len(glob.glob(os.path.join(dst, "deletion_vectors", "*.bin"))) == 2
    t.vacuum(retention_hours=0)
    (add,) = t.snapshot().add_files()
    assert glob.glob(os.path.join(dst, "deletion_vectors", "*.bin")) == [
        dv_absolute_path(dst, add["deletionVector"])
    ]
    assert sorted(r["k"] for r in t.toDF().collect()) == want


def test_absolute_dv_descriptor_still_reads_and_merges(spark, tmpdir_path):
    """A ``p`` (absolute path) descriptor, as older writers commit it,
    reads, and a further DV delete unions it into a new bitmap."""
    from jodie_spark.tables.deletion_vectors import write_dv_file
    from jodie_spark.tables.log import remove_action

    elsewhere = os.path.join(tmpdir_path, "elsewhere")
    rel = write_dv_file(elsewhere, [0, 4])
    desc = {**rel, "storageType": "p", "pathOrInlineDv": dv_absolute_path(elsewhere, rel)}

    p = os.path.join(tmpdir_path, "abs")
    write_delta(spark.range(10).selectExpr("id AS k").coalesce(1), p)
    t = DeltaTable.forPath(spark, p)
    t.delete("k = 0", deletion_vectors=True)  # upgrades the protocol
    snap = t.snapshot()
    (add,) = snap.add_files()
    t.deltaLog.commit(
        snap.version,
        [remove_action(add, 0), {"add": {**add, "deletionVector": desc}}],
        "DELETE",
    )
    assert sorted(r["k"] for r in t.toDF().collect()) == [1, 2, 3, 5, 6, 7, 8, 9]
    t.delete("k = 7", deletion_vectors=True)
    assert sorted(r["k"] for r in t.toDF().collect()) == [1, 2, 3, 5, 6, 8, 9]


def test_dv_references_use_delta_base85():
    """Delta's base85 is Z85: the spec's example ``u`` reference names
    the spec's file, the engine's references agree with an independent
    Z85 encoder, and inline bitmaps of any length round-trip (the
    payload zero-padded to whole 4-byte blocks, cut at sizeInBytes)."""
    import tempfile
    import uuid

    from jodie_spark.tables.deletion_vectors import (
        DeletionVectorError,
        inline_descriptor,
        parse_roaring_bitmap_array,
        read_dv_bytes,
        write_dv_file,
    )
    from tests.interop_golden import z85

    spec = {"storageType": "u", "pathOrInlineDv": "ab^-aqEH.-t@S}K{vb[*k^"}
    assert dv_absolute_path("/t", spec) == (
        "/t/ab/deletion_vector_d2c639aa-8816-431a-aaf6-d3fe2512ff61.bin"
    )
    with tempfile.TemporaryDirectory() as root:
        desc = write_dv_file(root, [3, 1])
        name = os.path.basename(dv_absolute_path(root, desc))
        u = uuid.UUID(name[len("deletion_vector_") : -len(".bin")])
        assert desc["pathOrInlineDv"] == "deletion_vectors" + z85(u.bytes)
        assert parse_roaring_bitmap_array(read_dv_bytes(root, desc)) == [1, 3]
    for positions in ([], [7], [0, 2, 1 << 33], list(range(50))):
        d = inline_descriptor(positions)
        assert d["pathOrInlineDv"] == z85(read_dv_bytes("/unused", d))
        assert parse_roaring_bitmap_array(read_dv_bytes("/unused", d)) == positions
    with pytest.raises(DeletionVectorError, match="Z85"):
        dv_absolute_path("/t", {"storageType": "u", "pathOrInlineDv": "~" * 20})


def test_mor_merge_on_name_mapped_table(spark, tmpdir_path):
    """Merge-on-read MERGE keeps its deletion vectors on a mode=name
    table (only mode=id takes copy-on-write) and leaves the rows a
    copy-on-write MERGE of a twin table leaves."""
    def run(name, dv):
        p = os.path.join(tmpdir_path, name)
        write_delta(
            spark.range(10).selectExpr("id", "id AS v").coalesce(1),
            p,
            options={"delta.columnMapping.mode": "name"},
        )
        t = DeltaTable.forPath(spark, p)
        t.rename_column("v", "val")
        src = spark.createDataFrame([(2, 0), (3, 1), (42, 0)], "id long, op long")
        (
            DeltaTable.forPath(spark, p).alias("t")
            .merge(src.alias("s"), "t.id = s.id")
            .whenMatchedDelete("s.op = 1")
            .whenMatchedUpdate(set={"val": "t.val + 100"})
            .whenNotMatchedInsert(values={"id": "s.id", "val": "s.op"})
            .execute(deletion_vectors=dv)
        )
        t = DeltaTable.forPath(spark, p)
        dvs = [a for a in t.snapshot().add_files() if a.get("deletionVector")]
        return sorted((r["id"], r["val"]) for r in t.toDF().collect()), dvs

    rows, dvs = run("mor", True)
    assert dvs and dvs[0]["deletionVector"]["cardinality"] == 2
    assert (rows, []) == run("cow", False)
    assert rows == sorted([(i, i) for i in range(10) if i not in (2, 3)] + [(2, 102), (42, 0)])


def test_mor_and_cow_merge_record_the_same_history(spark, tmpdir_path):
    """Both write modes of one merge commit the same operationParameters
    and the same operationMetrics keys."""
    src = spark.createDataFrame([(5, -1), (7, -1), (2000, 42)], ["id", "m"])
    got = []
    for dv in (False, True):
        p = os.path.join(tmpdir_path, f"dv{dv}")
        write_delta(spark.range(100).selectExpr("id", "id % 10 as m"), p)
        t = DeltaTable.forPath(spark, p)
        (
            t.alias("tg")
            .merge(src.alias("s"), "tg.id = s.id")
            .whenMatchedDelete("s.m < 0 and tg.id = 7")
            .whenMatchedUpdate(set={"m": "s.m"})
            .whenNotMatchedInsertAll()
            .execute(deletion_vectors=dv)
        )
        h = t.history(1).collect()[0]
        m = h["operationMetrics"]
        assert m["numOutputRows"] == str(
            int(m["numTargetRowsInserted"]) + int(m["numTargetRowsUpdated"])
            + int(m["numTargetRowsCopied"])
        )
        got.append((h["operationParameters"], sorted(m)))
    assert got[0] == got[1]
    assert json.loads(got[0][0]["matchedPredicates"]) == [
        {"predicate": "s.m < 0 and tg.id = 7", "actionType": "delete"},
        {"actionType": "update"},
    ]


def _dv_state(spark, t, op):
    """What ``op`` leaves of a DV'd row-tracking CDF table: its rows and
    their row ids, read by the datasource, or its change rows once a
    full delete removed the DV'd files."""
    from jodie_spark.operators.cdf import read_cdf
    from jodie_spark.sources.datasource import register

    if op == "read_cdf":  # the delete rows of the removed DV'd files
        t.delete()
        df = read_cdf(spark, t.path, 0, t.deltaLog.latest_version())
        return sorted(tuple(r) for r in df.drop("_commit_timestamp").collect())
    if op == "cow_delete":
        t.delete("id = 15 OR id = 16")
    elif op == "row_tracking_update":
        t.update("id < 20", {"m": "m + 100"})
    elif op == "reorg_purge":
        assert t.reorg_purge() == 2
    register(spark)
    ids = spark.read.format("jodie_delta").option("withRowIds", "true").load(t.path)
    return (
        sorted(tuple(r) for r in t.toDF().collect()),
        sorted((r["_row_id"], r["id"], r["m"], r["_row_commit_version"]) for r in ids.collect()),
    )


@pytest.mark.parametrize(
    "op", ["toDF", "cow_delete", "row_tracking_update", "reorg_purge", "read_cdf"]
)
def test_large_dv_shape_matches_the_bitmap_filter(spark, tmpdir_path, monkeypatch, op):
    """Past ``_DV_BROADCAST_MAX_POSITIONS`` deleted rows a scan drops
    them by an anti join instead of the bitmap filter: with the bound at
    0 every op over DV'd files returns the rows and row ids it returns
    with the default bound."""
    import shutil

    import jodie_spark.tables.table as table_module
    from conftest import executed_plans

    base = os.path.join(tmpdir_path, "base")
    write_delta(
        spark.range(40).selectExpr("id", "id % 10 AS m").repartitionByRange(2, "id"),
        base,
        options={"delta.enableRowTracking": "true", "delta.enableChangeDataFeed": "true"},
    )
    DeltaTable.forPath(spark, base).delete("m = 3", deletion_vectors=True)
    got = []
    for bound in (table_module._DV_BROADCAST_MAX_POSITIONS, 0):
        monkeypatch.setattr(table_module, "_DV_BROADCAST_MAX_POSITIONS", bound)
        p = os.path.join(tmpdir_path, f"b{bound}")
        shutil.copytree(base, p)
        plans = executed_plans(
            spark, lambda: got.append(_dv_state(spark, DeltaTable.forPath(spark, p), op))
        )
        assert any("LeftAnti" in plan for plan in plans) == (bound == 0)
    assert got[0] == got[1]
    rows = got[0] if op == "read_cdf" else got[0][0]
    assert rows and not any(r[1] == 3 for r in rows if op != "read_cdf")
