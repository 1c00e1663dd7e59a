"""Checkpoint writers: the driver writer (columnar snapshot state encoded
on the driver) and the Spark writer, chosen by DeltaLog.write_checkpoint.

- a commit that crosses the checkpoint interval on a small table talks
  to neither the JVM nor the scheduler;
- both writers replay to identical state, in both layouts;
- a crash after any file the driver writer publishes leaves the table
  readable, never exposes a torn checkpoint, and a retry succeeds;
- a failing checkpoint warns but keeps the commit;
- the planner's log-size gate counts only the bytes a replay reads.
"""

import json
import os
import shutil

import pytest

from conftest import py4j_round_trips, spark_jobs
from jodie_spark.tables import distribution
from jodie_spark.tables import log as log_mod
from jodie_spark.tables import table as table_mod
from jodie_spark.tables.log import DeltaLog, commit_file_name
from jodie_spark.tables.table import DeltaTable, write_delta


def _jvm_traffic(spark, fn):
    """(py4j round trips, Spark jobs) of ``fn()``; the job count's own
    py4j calls happen outside the round-trip count."""
    calls = []
    jobs = spark_jobs(spark, lambda: calls.append(py4j_round_trips(spark, fn)))
    return calls[0], jobs


def _rows(spark, p):
    return sorted(tuple(r) for r in DeltaTable.forPath(spark, p).toDF().collect())


def _state(p, version=None):
    """Everything a replay yields, in a form that compares equal whether
    the replay seeded from a checkpoint or from the JSON log."""
    s = DeltaLog(p).snapshot(version)

    def canon(rows, drop=()):
        # a checkpoint row carries every field, a JSON action only the
        # ones it sets: compare without the unset (null) fields
        return sorted(
            json.dumps(
                {k: v for k, v in r.items() if v is not None and k not in drop},
                sort_keys=True,
            )
            for r in rows
        )

    return {
        "version": s.version,
        # (the checkpoint reader decodes an empty format.options map as [])
        "metadata": {
            k: s.metadata.get(k)
            for k in ("id", "schemaString", "partitionColumns", "configuration", "createdTime")
        },
        "protocol": s.protocol,
        "domains": s.domain_metadata,
        # a checkpointed add says dataChange=false
        "adds": canon(s.iter_adds(), drop=("dataChange",)),
        "tombstones": canon(s.iter_tombstones()),
    }


def _drop_commits_through(p, version):
    """Delete the commit JSONs ≤ ``version`` so a replay must seed from
    the checkpoint at ``version``."""
    log = DeltaLog(p)
    for v in range(version + 1):
        if os.path.exists(log.commit_file_path(v)):
            os.remove(log.commit_file_path(v))


def _rich_table(spark, p, policy):
    """Partitioned, row-tracked table carrying a deletion vector,
    tombstones, a tagged add and the row-tracking domain."""
    write_delta(
        spark.range(24).selectExpr("id", "id % 3 AS part", "id * 2 AS v").repartition(2),
        p,
        partition_by=["part"],
        options={
            "delta.checkpointPolicy": policy,
            "delta.enableRowTracking": "true",
            "delta.checkpointInterval": "100",
        },
    )
    t = DeltaTable.forPath(spark, p)
    t.delete("id % 5 = 1", deletion_vectors=True)
    t.delete("id = 4")  # copy-on-write: tombstones
    log = DeltaLog(p)
    snap = log.snapshot()
    tagged = dict(min(snap.iter_adds(), key=lambda a: a["path"]))
    tagged["tags"] = {"ZCUBE_ID": "zc-1", "ZCUBE_ZORDER_BY": '["id"]'}
    log.commit(snap.version, _readd(tagged), "OPTIMIZE")
    return log.latest_version()


def _readd(add):
    """remove + add of one file, no data change (how OPTIMIZE or a tag
    rewrite replaces a file's add action)."""
    rm = {k: add[k] for k in ("path", "partitionValues", "size")}
    return [
        {"remove": dict(rm, deletionTimestamp=0, dataChange=False)},
        {"add": dict(add, dataChange=False)},
    ]


@pytest.mark.parametrize("policy", ["classic", "v2"])
def test_commit_checkpoint_sends_no_py4j_and_starts_no_jobs(spark, tmpdir_path, policy):
    """A commit that crosses delta.checkpointInterval on a small table
    writes its checkpoint on the driver: zero py4j commands, zero Spark
    jobs (the Spark writer took several jobs and ~1000 commands)."""
    p = os.path.join(tmpdir_path, policy)
    write_delta(
        spark.range(10).selectExpr("id"),
        p,
        options={"delta.checkpointInterval": "2", "delta.checkpointPolicy": policy},
    )
    log = DeltaLog(p)
    actions = _readd(next(iter(log.snapshot().iter_adds())))
    log.commit(0, actions, "OPTIMIZE")
    assert log.list_checkpoint_versions() == []

    calls, jobs = _jvm_traffic(spark, lambda: log.commit(1, actions, "OPTIMIZE"))
    assert log.list_checkpoint_versions() == [2]
    assert (calls, jobs) == (0, 0)
    _drop_commits_through(p, 2)
    assert _rows(spark, p) == [(i,) for i in range(10)]


@pytest.mark.parametrize("policy", ["classic", "v2"])
def test_driver_and_spark_checkpoints_replay_identically(spark, tmpdir_path, policy):
    p = os.path.join(tmpdir_path, f"{policy}_driver")
    v = _rich_table(spark, p, policy)
    q = os.path.join(tmpdir_path, f"{policy}_spark")
    shutil.copytree(p, q)
    want = _state(p)
    rows = _rows(spark, p)
    assert DeltaLog(p).write_checkpoint(spark=False) == v
    assert DeltaLog(q).write_checkpoint(spark=spark) == v
    for x in (p, q):
        _drop_commits_through(x, v)
    got = _state(p)
    assert got == _state(q) == want
    assert got["tombstones"] and got["domains"]
    adds = [json.loads(a) for a in got["adds"]]
    assert any(a.get("deletionVector") for a in adds)
    assert any((a.get("tags") or {}).get("ZCUBE_ID") == "zc-1" for a in adds)
    assert all(a["partitionValues"].get("part") is not None for a in adds)
    assert all(a.get("baseRowId") is not None for a in adds)
    assert _rows(spark, p) == _rows(spark, q) == rows


def test_checkpoint_writer_choice(spark, tmpdir_path, monkeypatch):
    """spark=None writes on the driver while the replay fits there (the
    planner's byte gates), the Spark writer beyond; an explicit session
    forces Spark, spark=False forces the driver."""
    p = os.path.join(tmpdir_path, "t")
    write_delta(spark.range(5).selectExpr("id"), p)
    chosen = []
    real = distribution.write_checkpoint_spark

    def spy(*args, **kwargs):
        chosen.append("spark")
        return real(*args, **kwargs)

    monkeypatch.setattr(distribution, "write_checkpoint_spark", spy)
    DeltaLog(p).write_checkpoint()
    assert chosen == []
    DeltaLog(p).write_checkpoint(spark=spark)
    assert chosen == ["spark"]
    write_delta(spark.range(5, 8).selectExpr("id"), p, mode="append")
    monkeypatch.setattr(table_mod, "_DRIVER_PLAN_MAX_LOG_BYTES", 0)  # tail too big
    DeltaLog(p).write_checkpoint()
    assert chosen == ["spark", "spark"]
    DeltaLog(p).write_checkpoint(spark=False)
    assert chosen == ["spark", "spark"]
    monkeypatch.setattr(table_mod, "_DRIVER_COLUMNAR_PLAN_MAX_LOG_BYTES", 0)
    monkeypatch.setattr(table_mod, "_DRIVER_PLAN_MAX_LOG_BYTES", 1 << 40)
    DeltaLog(p).write_checkpoint()  # newest checkpoint too big
    assert chosen == ["spark", "spark", "spark"]
    assert _rows(spark, p) == [(i,) for i in range(8)]


def test_failed_checkpoint_warns_and_keeps_the_commit(spark, tmpdir_path, monkeypatch):
    p = os.path.join(tmpdir_path, "t")
    write_delta(
        spark.range(4).selectExpr("id"), p, options={"delta.checkpointInterval": "2"}
    )
    write_delta(spark.range(4, 6).selectExpr("id"), p, mode="append")

    def broken(self, version=None, spark=None):
        raise OSError("disk full")

    monkeypatch.setattr(DeltaLog, "write_checkpoint", broken)
    with pytest.warns(RuntimeWarning, match=r"@2: checkpoint failed — OSError: disk full"):
        write_delta(spark.range(6, 9).selectExpr("id"), p, mode="append")
    monkeypatch.undo()
    log = DeltaLog(p)
    assert log.latest_version() == 2
    assert log.list_checkpoint_versions() == []
    assert _rows(spark, p) == [(i,) for i in range(9)]


class _Crash(Exception):
    pass


@pytest.mark.parametrize("policy", ["classic", "v2"])
def test_driver_checkpoint_survives_a_crash_after_each_published_file(
    spark, tmpdir_path, monkeypatch, policy
):
    """Kill the driver writer right after each file it publishes — every
    part or sidecar, the manifest, ``_last_checkpoint`` — and check the
    table after each kill: same rows at the same version, no incomplete
    checkpoint listed, ``_last_checkpoint`` never ahead of a complete
    checkpoint, and a retry that succeeds."""
    monkeypatch.setattr(log_mod, "_CP_ACTIONS_PER_PART", 4)  # several parts
    base = os.path.join(tmpdir_path, "base")
    v = _rich_table(spark, base, policy)
    rows = _rows(spark, base)
    state = _state(base)
    fs_cls = type(DeltaLog(base)._fs)
    real = fs_cls.write_atomic

    published: list[str] = []
    probe = os.path.join(tmpdir_path, "probe")
    shutil.copytree(base, probe)

    def recording(self, path, data):
        published.append(path)
        real(self, path, data)

    with monkeypatch.context() as m:
        m.setattr(fs_cls, "write_atomic", recording)
        DeltaLog(probe).write_checkpoint(spark=False)
    assert os.path.basename(published[-1]) == "_last_checkpoint"
    n_state_files = len(published) - 2 if policy == "v2" else len(published) - 1
    assert n_state_files >= 2, published

    for k in range(1, len(published) + 1):
        p = os.path.join(tmpdir_path, f"crash{k}")
        shutil.copytree(base, p)
        done = []

        def dying(self, path, data):
            real(self, path, data)
            done.append(path)
            if len(done) == k:
                raise _Crash(path)

        with monkeypatch.context() as m:
            m.setattr(fs_cls, "write_atomic", dying)
            with pytest.raises(_Crash):
                DeltaLog(p).write_checkpoint(spark=False)
        log = DeltaLog(p)
        listed = log.list_checkpoint_versions()
        # complete once every part (classic) or the manifest (v2) landed
        assert (v in listed) == (k >= len(published) - 1), (k, listed)
        last = log._read_last_checkpoint()
        assert last is None or last in listed
        assert log.snapshot().version == v
        assert _rows(spark, p) == rows
        assert _state(p) == state

        assert DeltaLog(p).write_checkpoint(spark=False) == v
        log = DeltaLog(p)
        assert v in log.list_checkpoint_versions()
        assert log._read_last_checkpoint() == v
        _drop_commits_through(p, v)
        assert _rows(spark, p) == rows


def test_cleanup_deletes_orphan_sidecars_of_a_killed_v2_checkpoint(
    spark, tmpdir_path, monkeypatch
):
    """A v2 checkpoint writer killed after its first sidecar leaves a
    sidecar no manifest names. Metadata cleanup deletes it once it is
    past the retention cutoff; a fresh unreferenced sidecar (a
    checkpoint being written right now) and the sidecars a surviving
    manifest names stay, however old."""
    monkeypatch.setattr(log_mod, "_CP_ACTIONS_PER_PART", 4)  # several sidecars
    p = os.path.join(tmpdir_path, "t")
    v = _rich_table(spark, p, "v2")
    rows = _rows(spark, p)
    fs_cls = type(DeltaLog(p)._fs)
    real = fs_cls.write_atomic

    def dying(self, path, data):
        real(self, path, data)
        raise _Crash(path)

    with monkeypatch.context() as m:
        m.setattr(fs_cls, "write_atomic", dying)
        with pytest.raises(_Crash) as crash:
            DeltaLog(p).write_checkpoint(spark=False)
    orphan = str(crash.value)
    assert "_sidecars" in orphan
    log = DeltaLog(p)
    assert log.write_checkpoint(spark=False) == v
    referenced = [f for f in log.checkpoint_part_files(v) if "_sidecars" in f]
    assert referenced and orphan not in referenced
    fresh = os.path.join(os.path.dirname(orphan), "fresh-unreferenced.parquet")
    shutil.copyfile(orphan, fresh)

    month_ago = log_mod.time.time() - 31 * 24 * 3600
    for f in [orphan, *referenced]:
        os.utime(f, (month_ago, month_ago))
    deleted = log.cleanup_expired_logs()
    assert orphan in deleted and not os.path.exists(orphan)
    assert os.path.exists(fresh)
    assert all(os.path.exists(f) for f in referenced)
    assert _rows(spark, p) == rows


def test_planner_gate_ignores_commits_below_the_checkpoint(spark, tmpdir_path):
    """More than 4 MiB of commits sit below the newest checkpoint, the
    tail is small: the replay reads little, so DML planning stays on the
    driver (no Spark job)."""
    p = os.path.join(tmpdir_path, "t")
    write_delta(
        spark.range(0, 100).selectExpr("id", "cast(id as string) as v").repartition(2), p
    )
    lines = [json.dumps({"commitInfo": {"timestamp": 0, "operation": "WRITE",
                                        "operationParameters": {}, "operationMetrics": {}}})]
    for i in range(20_000):
        lo = 10_000_000 + i * 10
        stats = json.dumps({"numRecords": 10, "minValues": {"id": lo, "v": "x"},
                            "maxValues": {"id": lo + 9, "v": "x"},
                            "nullCount": {"id": 0, "v": 0}})
        lines.append(json.dumps({"add": {"path": f"fake/part-{i:06d}.parquet",
                                         "partitionValues": {}, "size": 1000,
                                         "modificationTime": 0, "dataChange": True,
                                         "stats": stats}}))
    log = DeltaLog(p)
    with open(os.path.join(log.log_path, commit_file_name(1)), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    assert os.path.getsize(log.commit_file_path(1)) > table_mod._DRIVER_PLAN_MAX_LOG_BYTES
    log.write_checkpoint(spark=False)
    log.commit(1, [], "SET TBLPROPERTIES")  # a small tail

    tail, checkpoint = log.replay_log_bytes()
    assert tail < 4096 and checkpoint > 0
    assert table_mod._log_bytes(p) == tail + checkpoint

    schema = DeltaTable.forPath(spark, p).schema()
    got = []
    _, jobs = _jvm_traffic(
        spark,
        lambda: got.extend(
            table_mod.plan_candidate_files(spark, p, "id < 100", schema, [])
        ),
    )
    assert len(got) == 2 and not any(c["path"].startswith("fake/") for c in got)
    assert jobs == 0


def test_torn_part_set_next_to_a_complete_one_is_ignored(spark, tmpdir_path, monkeypatch):
    """A crashed writer's torn multi-part set can sit next to a complete
    set of another part count at the same version (the driver and Spark
    writers split differently); a replay reads the complete set only,
    never both."""
    monkeypatch.setattr(log_mod, "_CP_ACTIONS_PER_PART", 3)
    p = os.path.join(tmpdir_path, "t")
    write_delta(spark.range(12).selectExpr("id").repartition(4), p)
    log = DeltaLog(p)
    rows = _rows(spark, p)
    n = log.snapshot().num_files()
    v = log.write_checkpoint(spark=False)
    parts = log.checkpoint_part_files(v)
    assert len(parts) == 2  # protocol + metaData + 4 adds, 3 per part
    # part 1 of a 3-part set whose other parts never landed
    shutil.copy(parts[0], parts[0].replace(".0000000002.parquet", ".0000000003.parquet"))
    assert DeltaLog(p).checkpoint_part_files(v) == parts
    _drop_commits_through(p, v)
    assert DeltaLog(p).snapshot().num_files() == n
    assert _rows(spark, p) == rows
