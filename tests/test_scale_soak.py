"""100k-file scale soak (VERDICT r3 task 5): the driver-side cost of
planning, metadata analytics, checkpointing, and OPTIMIZE planning on a
100,000-add table must be bounded and contain no O(#files) driver loop
in the DML path. Numbers are recorded for SCALE.md.

The fixture fabricates a synthetic 100k-add commit (files absent on
disk — reading any of them would throw, so a passing run PROVES no
data-path ever touches the full file list) plus a handful of real
files the DML predicates resolve to.
"""

import json
import os
import time

import pytest

_N_FAKE = 100_000


@pytest.fixture(scope="module")
def big_table(spark, tmp_path_factory):
    from jodie_spark.tables.log import commit_file_name
    from jodie_spark.tables.table import write_delta

    p = str(tmp_path_factory.mktemp("soak") / "t100k")
    df = spark.range(0, 100).selectExpr("id", "cast(id as string) as v")
    write_delta(df.repartition(2), p)

    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": 0,
                    "operation": "WRITE",
                    "operationParameters": {},
                    "operationMetrics": {},
                }
            }
        )
    ]
    for i in range(_N_FAKE):
        lo = 10_000_000 + i * 10
        stats = json.dumps(
            {
                "numRecords": 10,
                "minValues": {"id": lo, "v": "x"},
                "maxValues": {"id": lo + 9, "v": "x"},
                "nullCount": {"id": 0, "v": 0},
            }
        )
        lines.append(
            json.dumps(
                {
                    "add": {
                        "path": f"fake/part-{i:06d}.parquet",
                        "partitionValues": {},
                        "size": 1000,
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": stats,
                    }
                }
            )
        )
    with open(os.path.join(p, "_delta_log", commit_file_name(1)), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return p


def test_100k_plan_and_dml_bounded(big_table, spark):
    """plan_candidate_files prunes 100k adds Spark-side to the 2 real
    files; a full CoW delete+update runs without touching fake paths.
    Timings asserted loosely (local[32] CI bound) and printed for
    SCALE.md."""
    import jodie_spark.tables.table as table_mod
    from jodie_spark.tables.table import DeltaTable

    schema = DeltaTable.forPath(spark, big_table).schema()

    t0 = time.time()
    cands = table_mod.plan_candidate_files(
        spark, big_table, "id < 100", schema, []
    )
    plan_s = time.time() - t0
    assert len(cands) == 2  # stats-pruned to the real files only
    assert all(not c["path"].startswith("fake/") for c in cands)

    t0 = time.time()
    t = DeltaTable.forPath(spark, big_table)
    t.delete("id < 10")
    delete_s = time.time() - t0

    t0 = time.time()
    DeltaTable.forPath(spark, big_table).update("id >= 10 and id < 20", {"v": "'u'"})
    update_s = time.time() - t0

    print(
        f"\nSOAK100K plan={plan_s:.2f}s delete={delete_s:.2f}s "
        f"update={update_s:.2f}s"
    )
    assert plan_s < 60 and delete_s < 120 and update_s < 120


def test_100k_files_df_and_analytics_bounded(big_table, spark):
    from jodie_spark.tables.distribution import files_df

    t0 = time.time()
    n = files_df(spark, big_table).count()
    count_s = time.time() - t0
    assert n >= _N_FAKE

    t0 = time.time()
    from jodie_spark.tables.distribution import delta_file_size_distribution

    dist = delta_file_size_distribution(spark, big_table).collect()
    dist_s = time.time() - t0
    assert dist
    print(f"\nSOAK100K files_df_count={count_s:.2f}s size_distribution={dist_s:.2f}s")
    assert count_s < 60 and dist_s < 60


def test_100k_checkpoint_spark_write_and_replay(big_table, spark):
    """Spark-side checkpoint write over 100k+ actions, then a cold
    snapshot seeded from it."""
    from jodie_spark.tables.log import DeltaLog

    log = DeltaLog(big_table)
    t0 = time.time()
    v = log.write_checkpoint()
    cp_s = time.time() - t0
    assert v >= 1

    t0 = time.time()
    snap = DeltaLog(big_table).snapshot()
    replay_s = time.time() - t0
    assert snap.num_files() >= _N_FAKE
    print(f"\nSOAK100K checkpoint_write={cp_s:.2f}s cold_replay={replay_s:.2f}s")
    assert cp_s < 180 and replay_s < 120


def test_100k_optimize_planning_prunes_before_read(big_table, spark):
    """OPTIMIZE ... WHERE must prune the 100k fakes BEFORE any read:
    the fake paths do not exist, so reading even one would throw."""
    from jodie_spark.tables.table import DeltaTable

    t0 = time.time()
    DeltaTable.forPath(spark, big_table).optimize().where(
        "id < 100"
    ).executeCompaction()
    opt_s = time.time() - t0
    print(f"\nSOAK100K optimize_where={opt_s:.2f}s")
    assert opt_s < 120


def test_100k_tombstone_vacuum_dry_run_bounded(spark, tmp_path_factory):
    """Vacuum at metadata scale (round-7 verdict item): the candidate
    enumeration is LOG-driven — eligible files come from the replayed
    tombstone set, never from a recursive listing of the data
    directory — so a table carrying 100k tombstones costs one log
    replay plus one existence check per ELIGIBLE tombstone, not an
    os.walk over whatever junk sits in storage. Dry-run over 100k
    fake tombstones + 2 real ones returns exactly the real files,
    inside a hard wall-clock bound; the real vacuum then deletes them
    and commits the START/END audit pair."""
    import time as _time

    from jodie_spark.tables.log import commit_file_name
    from jodie_spark.tables.table import DeltaTable, write_delta

    p = str(tmp_path_factory.mktemp("soakv") / "tvac")
    write_delta(
        spark.range(0, 100).selectExpr("id", "cast(id as string) as v").repartition(2),
        p,
    )
    t = DeltaTable.forPath(spark, p)
    # two REAL tombstones via the API (overwrite removes both files)
    before_files = [a["path"] for a in t.snapshot().add_files()]
    write_delta(spark.range(5).selectExpr("id", "'y' as v"), p, mode="overwrite")
    # one synthetic commit carrying 100k fake old tombstones
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": 0,
                    "operation": "DELETE",
                    "operationParameters": {},
                    "operationMetrics": {},
                }
            }
        )
    ]
    for i in range(100_000):
        lines.append(
            json.dumps(
                {
                    "remove": {
                        "path": f"gone/part-{i:06d}.parquet",
                        "deletionTimestamp": 1,
                        "dataChange": True,
                        "partitionValues": {},
                        "size": 1000,
                    }
                }
            )
        )
    v = t.deltaLog.latest_version() + 1
    with open(os.path.join(p, "_delta_log", commit_file_name(v)), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    t = DeltaTable.forPath(spark, p)
    t0 = _time.time()
    would = t.vacuum(retention_hours=0.0, dry_run=True)
    dt = _time.time() - t0
    # exactly the two real overwritten files; 100k fakes cost an
    # isfile() each, nothing else — generous bound still catches an
    # accidental directory walk or per-file Spark job
    assert sorted(os.path.basename(x) for x in would) == sorted(before_files)
    assert dt < 30, f"vacuum dry-run took {dt:.1f}s at 100k tombstones"
    # the real vacuum deletes them + commits the audit pair
    t.vacuum(retention_hours=0.0)
    assert not any(os.path.isfile(os.path.join(p, f)) for f in before_files)
    ops = [r["operation"] for r in t.history().collect()]
    assert "VACUUM START" in ops and "VACUUM END" in ops
    assert t.toDF().count() == 5  # live data untouched


# ---------------------------------------------------------------------------
# 1M-add snapshot-load slope (VERDICT r10 item 6): the 100 TB story
# rests on log replay staying ~O(#files) with small constants — measure
# checkpoint read + tail replay at 10× the 100k soak and assert the
# slope is ~linear (a super-linear dict/parse path would blow past it).
# ---------------------------------------------------------------------------


def _fabricate_checkpoint_table(
    spark, root: str, n_adds: int, n_removes: int = 0
) -> str:
    """A table whose base checkpoint carries ``n_adds`` synthetic add
    actions, built COLUMNAR with pyarrow against the engine's own
    checkpoint schema (cheap at 1M — no per-row JSON log writing), plus
    a one-add JSON tail commit on top. Fake paths are never read, so a
    passing replay proves the snapshot path is metadata-only."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jodie_spark.tables.log import (
        DeltaLog,
        checkpoint_file_name,
        commit_file_name,
    )
    from jodie_spark.tables.table import write_delta

    p = os.path.join(root, f"t{n_adds}")
    write_delta(
        spark.range(0, 100).selectExpr("id", "cast(id as string) as v").repartition(2),
        p,
    )
    log = DeltaLog(p)
    # force the single-part pyarrow path: we need one template file
    # with the engine's checkpoint schema to clone columnar
    log.write_checkpoint(spark=False)
    cp0 = os.path.join(p, "_delta_log", checkpoint_file_name(0))
    base = pq.read_table(cp0)
    schema = base.schema

    add_type = schema.field("add").type
    paths = [f"fake/part-{i:07d}.parquet" for i in range(n_adds)]
    los = np.arange(n_adds, dtype=np.int64) * 10 + 10_000_000
    stats = [
        '{"numRecords":10,"minValues":{"id":%d,"v":"x"},'
        '"maxValues":{"id":%d,"v":"x"},"nullCount":{"id":0,"v":0}}' % (lo, lo + 9)
        for lo in los
    ]
    child_arrays = []
    for f in add_type:
        if f.name == "path":
            child_arrays.append(pa.array(paths, f.type))
        elif f.name == "size":
            child_arrays.append(pa.array(np.full(n_adds, 1000), f.type))
        elif f.name == "modificationTime":
            child_arrays.append(pa.array(np.zeros(n_adds, np.int64), f.type))
        elif f.name == "dataChange":
            child_arrays.append(pa.array(np.ones(n_adds, bool), f.type))
        elif f.name == "stats":
            child_arrays.append(pa.array(stats, f.type))
        elif f.name == "partitionValues":
            child_arrays.append(pa.array([{}] * n_adds, f.type))
        else:
            child_arrays.append(pa.nulls(n_adds, f.type))
    add_arr = pa.StructArray.from_arrays(child_arrays, fields=list(add_type))
    cols = [
        add_arr if fld.name == "add" else pa.nulls(n_adds, fld.type)
        for fld in schema
    ]
    big = pa.concat_tables([base, pa.Table.from_arrays(cols, schema=schema)])
    if n_removes:
        # checkpoint-resident tombstones (the vacuum sweep's columnar
        # serving lane reads these straight from the arrow base)
        rm_type = schema.field("remove").type
        rm_children = []
        for f in rm_type:
            if f.name == "path":
                rm_children.append(
                    pa.array(
                        [f"gone/part-{i:07d}.parquet" for i in range(n_removes)],
                        f.type,
                    )
                )
            elif f.name == "deletionTimestamp":
                rm_children.append(pa.array(np.ones(n_removes, np.int64), f.type))
            elif f.name == "dataChange":
                rm_children.append(pa.array(np.ones(n_removes, bool), f.type))
            elif f.name == "size":
                rm_children.append(pa.array(np.full(n_removes, 1000), f.type))
            else:
                rm_children.append(pa.nulls(n_removes, f.type))
        rm_arr = pa.StructArray.from_arrays(rm_children, fields=list(rm_type))
        rm_cols = [
            rm_arr if fld.name == "remove" else pa.nulls(n_removes, fld.type)
            for fld in schema
        ]
        big = pa.concat_tables([big, pa.Table.from_arrays(rm_cols, schema=schema)])
    pq.write_table(big, os.path.join(p, "_delta_log", checkpoint_file_name(1)))
    with open(os.path.join(p, "_delta_log", "_last_checkpoint"), "w") as fh:
        fh.write(json.dumps({"version": 1, "size": big.num_rows}))
    tail = [
        json.dumps({"commitInfo": {"timestamp": 0, "operation": "WRITE",
                                   "operationParameters": {}, "operationMetrics": {}}}),
        json.dumps({"add": {"path": "fake/tail.parquet", "partitionValues": {},
                            "size": 1000, "modificationTime": 0, "dataChange": True}}),
    ]
    with open(os.path.join(p, "_delta_log", commit_file_name(2)), "w") as fh:
        fh.write("\n".join(tail) + "\n")
    return p


def test_1m_snapshot_load_slope(spark, tmp_path_factory):
    """Cold snapshot (checkpoint read + tail replay) at 100k vs 1M
    adds: the 10× slope must stay ~linear, and table_info (the DML
    planning path) must stay O(log-tail) — effectively flat."""
    from jodie_spark.tables.distribution import files_df
    from jodie_spark.tables.log import DeltaLog

    root = str(tmp_path_factory.mktemp("soak1m"))
    results = {}
    for n in (100_000, 1_000_000):
        p = _fabricate_checkpoint_table(spark, root, n)
        # min-of-2 with fresh DeltaLog objects: both runs re-read and
        # re-replay the full log (no object-level cache survives), but
        # the second runs page-cache-warm at BOTH scales, so the 10x
        # slope compares like with like instead of amplifying ambient
        # I/O drift through a ratio of small numbers (this machine's
        # documented failure mode; flaky in full-suite runs, round 13)
        replay_s = None
        for _ in range(2):
            t0 = time.time()
            snap = DeltaLog(p).snapshot()
            # columnar contract: counting and sizing the state must not
            # force the lazy dict view (r12 — VERDICT r11 top item)
            assert snap.num_files() == n + 3  # 2 real + synthetic + tail
            assert snap.size_in_bytes() > 0
            assert snap._files._dict is None, "num_files materialized the dict"
            dt = time.time() - t0
            replay_s = dt if replay_s is None else min(replay_s, dt)
        t0 = time.time()
        adds = snap.add_files()  # the lazy dict view, on demand
        materialize_s = time.time() - t0
        assert len(adds) == n + 3
        t0 = time.time()
        info = DeltaLog(p).table_info()
        info_s = time.time() - t0
        assert info.metadata and info.files is None
        t0 = time.time()
        assert files_df(spark, p).count() == n + 3
        filesdf_s = time.time() - t0
        results[n] = (replay_s, info_s, filesdf_s, materialize_s)
        print(
            f"\nSOAK1M n={n} cold_snapshot={replay_s:.2f}s "
            f"materialize_dict={materialize_s:.2f}s "
            f"table_info={info_s * 1000:.0f}ms files_df={filesdf_s:.2f}s"
        )
    slope = results[1_000_000][0] / max(results[100_000][0], 1e-9)
    print(f"SOAK1M snapshot slope at 10x files: {slope:.1f}x")
    # ~linear with 50% constant-factor slack; catches quadratic paths
    assert slope < 15, f"snapshot load super-linear: 10x files cost {slope:.1f}x"
    # the r12 columnar bound (VERDICT r11 item 1): cold snapshot at 1M
    # adds — checkpoint arrow read + tail replay, NO per-add dicts —
    # must stay comfortably single-digit seconds
    assert results[1_000_000][0] < 10.0, (
        f"1M-add cold snapshot took {results[1_000_000][0]:.1f}s (budget 10s)"
    )
    # table_info must not scale with the checkpoint: flat bound, not slope
    assert results[1_000_000][1] < 2.0, "table_info reads the full checkpoint?"


def test_1m_vacuum_and_fsck_never_materialize_dict_view(
    spark, tmp_path_factory, monkeypatch
):
    """VERDICT r12 item 2: vacuum's tombstone sweep + live-DV scan and
    fsck's existence scan must serve from the columnar base
    (iter_rows projections / validity prefilters), never the full dict
    view — PROVED by poisoning _FileState.as_dict for the duration, and
    wall-clock-bounded (the residual O(#files) cost is one isfile per
    candidate, the documented floor)."""
    from jodie_spark.tables import log as log_mod
    from jodie_spark.tables.table import DeltaTable

    root = str(tmp_path_factory.mktemp("soak1mvac"))
    p = _fabricate_checkpoint_table(spark, root, 1_000_000, n_removes=1_000_000)
    t = DeltaTable.forPath(spark, p)

    def _poisoned(self):
        raise AssertionError("as_dict() called — dict view materialized")

    monkeypatch.setattr(log_mod._FileState, "as_dict", _poisoned)

    t0 = time.time()
    would = t.vacuum(retention_hours=0.0, dry_run=True)
    vac_s = time.time() - t0
    # every fabricated tombstone is eligible but none physically exist
    assert would == []
    t0 = time.time()
    missing = t.fsck(dry_run=True)
    fsck_s = time.time() - t0
    # all fabricated adds are missing; the 2 real base files are not
    assert len(missing) == 1_000_000 + 1  # synthetic + tail
    # (toDF's projected iteration is exercised by the real-table suites;
    # Spark's load() validates paths eagerly, so the fake-file fixture
    # cannot drive it here)
    print(
        f"\nSOAK1M vacuum_dry_run={vac_s:.2f}s fsck_dry_run={fsck_s:.2f}s "
        f"(dict view never materialized)"
    )
    assert vac_s < 30 and fsck_s < 30, (vac_s, fsck_s)


def test_1m_selective_merge_lifecycle(spark, tmp_path_factory, monkeypatch):
    """VERDICT r12 item 5: one full MERGE lifecycle against the 1M-add
    table — planning must stay off the driver's dict view end-to-end
    (table_info is metadata-only; candidate discovery runs Spark-side
    over files_df because the log exceeds the driver-plan byte gate;
    the rewrite touches only the candidate files). as_dict is POISONED
    for the duration, so any O(#files) dict materialization fails the
    test outright; per-phase wall times print for SCALE.md."""
    from jodie_spark.tables import log as log_mod
    from jodie_spark.tables.log import DeltaLog, commit_file_name
    from jodie_spark.tables.table import (
        DeltaTable,
        _log_bytes,
        _DRIVER_PLAN_MAX_LOG_BYTES,
        plan_candidate_files,
    )

    root = str(tmp_path_factory.mktemp("soak1mmerge"))
    p = _fabricate_checkpoint_table(spark, root, 1_000_000)
    # drop the stats-less tail add: with no stats it would survive every
    # prune and the probe read would hit its nonexistent file
    log = DeltaLog(p)
    v = log.latest_version() + 1
    with open(os.path.join(p, "_delta_log", commit_file_name(v)), "w") as fh:
        fh.write(
            json.dumps({"commitInfo": {"timestamp": 0, "operation": "DELETE",
                                       "operationParameters": {},
                                       "operationMetrics": {}}})
            + "\n"
            + json.dumps({"remove": {"path": "fake/tail.parquet",
                                     "deletionTimestamp": 0,
                                     "dataChange": True,
                                     "partitionValues": {}, "size": 1000}})
            + "\n"
        )
    # the byte gate must route planning Spark-side at this scale
    assert _log_bytes(p) > _DRIVER_PLAN_MAX_LOG_BYTES

    t = DeltaTable.forPath(spark, p)
    schema = t.schema(t.deltaLog.table_info())

    def _poisoned(self):
        raise AssertionError("as_dict() called — dict view materialized")

    monkeypatch.setattr(log_mod._FileState, "as_dict", _poisoned)

    t0 = time.time()
    info = t.deltaLog.table_info()
    info_s = time.time() - t0
    t0 = time.time()
    cands = plan_candidate_files(spark, p, "id < 100", schema, [])
    plan_s = time.time() - t0
    # only the two real base files may contain id < 100
    assert len(cands) == 2, [c["path"] for c in cands]
    # UNSELECTIVE condition (keeps ~everything): the selectivity gate
    # must fall through to the Spark-side tier — still no dict view,
    # candidates come back as stats-free rows (review r13)
    t0 = time.time()
    all_cands = plan_candidate_files(spark, p, "id >= 0", schema, [])
    unsel_s = time.time() - t0
    assert len(all_cands) == 1_000_002  # 1M fakes + 2 real (tail removed)
    assert all("stats" not in c for c in all_cands[:100])

    src = spark.range(0, 5).selectExpr("id", "'upd' as v")
    t0 = time.time()
    (
        t.alias("target")
        .merge(src.alias("src"), "target.id = src.id and target.id < 100")
        .whenMatchedUpdate(set={"v": "src.v"})
        .whenNotMatchedInsertAll()
        .execute()
    )
    merge_s = time.time() - t0
    monkeypatch.undo()

    from jodie_spark.sources.datasource import register

    register(spark)
    got = dict(
        (r.id, r.v)
        for r in spark.read.format("jodie_delta").load(p)
        .filter("id < 10").collect()
    )
    assert all(got[i] == "upd" for i in range(5))
    assert all(got[i] != "upd" for i in range(5, 10))
    snap = DeltaLog(p).snapshot()
    # the rewrite touched ONLY the candidate files: 1M fakes intact
    assert snap.num_files() >= 1_000_000
    print(
        f"\nSOAK1M merge lifecycle: table_info={info_s * 1000:.0f}ms "
        f"plan_candidates={plan_s:.2f}s unselective_plan={unsel_s:.2f}s "
        f"merge={merge_s:.2f}s (dict view never materialized)"
    )
    assert info_s < 2.0 and plan_s < 30 and merge_s < 60


def test_1m_filtered_scan_planning_columnar(spark, tmp_path_factory):
    """Datasource scan planning with a pushed filter at 1M adds must run
    COLUMNAR (pruning_arrow over the checkpoint base), never the per-add
    Python sweep: ≤2 s wall (VERDICT r12 item 1; measured 1.2 s — was
    ~20 s through the dict view), exactly the 52 stats-matching files
    plus the stats-less tail add planned, and the lazy dict view left
    unmaterialized."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from jodie_spark.sources.datasource import JodieDeltaBatchReader
    from jodie_spark.tables.log import DeltaLog

    root = str(tmp_path_factory.mktemp("soak1mscan"))
    p = _fabricate_checkpoint_table(spark, root, 1_000_000)
    schema = StructType(
        [StructField("id", LongType()), StructField("v", StringType())]
    )
    rdr = JodieDeltaBatchReader({"path": p}, schema)
    # the condition shape pushFilters produces for id BETWEEN bounds;
    # overlaps adds i=200..251 (each [lo, lo+9], lo = 10_000_000 + 10i)
    rdr._condition = "id >= 10002000 and id <= 10002519"
    t0 = time.time()
    parts = rdr.partitions()
    plan_s = time.time() - t0
    planned = {
        f
        for pp in parts
        for f in (
            [fp.file_path for fp in pp.files]
            if hasattr(pp, "files")
            else [pp.file_path]
        )
    }
    print(f"\nSOAK1M filtered scan planning: {plan_s:.2f}s, {len(planned)} files")
    assert len(planned) == 53, len(planned)  # 52 matches + stats-less tail
    assert sum(1 for f in planned if "tail" in f) == 1
    # budget 3 s: typical is ~1.1-1.2 s (round-13 profile: 0.41 s
    # checkpoint read + 0.29 s columnar mask + 0.26 s one-shot stats
    # parse), but this machine's documented I/O-plane drift pushed
    # full-suite runs to 2.0-2.1 s against the original 2 s budget
    # (round-13 opt session, flaky at the boundary). The regression this
    # guards against — the per-add dict-view sweep — costs ~20 s, so 3 s
    # still catches it with 7x margin.
    assert plan_s < 3.0, f"filtered 1M scan planning took {plan_s:.2f}s (budget 3s)"
    # the planning path must not have forced the 1M-dict view
    snap = DeltaLog(p).snapshot()
    st = snap._files
    adds = st.pruned_adds(
        "id >= 10002000 and id <= 10002519", schema, []
    )
    assert len(adds) == 53 and st._dict is None, "pruned_adds forced the dict view"


def test_1m_checkpoint_driver_writer(spark, tmp_path_factory, monkeypatch):
    """A ``spark=None`` checkpoint of the 1M-add table takes the driver
    writer — the replay fits the planner's byte gates (one-add tail,
    checkpoint under the columnar bound) — builds no dict view (as_dict
    POISONED), runs no Spark job, and replays to the full state. The
    forced Spark writer on a copy of the same table is timed alongside
    for SCALE.md."""
    import shutil

    from jodie_spark.tables import distribution
    from jodie_spark.tables import log as log_mod
    from jodie_spark.tables.log import DeltaLog

    root = str(tmp_path_factory.mktemp("soak1mcp"))
    p = _fabricate_checkpoint_table(spark, root, 1_000_000)
    q = p + "_spark"
    shutil.copytree(p, q)
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def _poisoned(self):
        raise AssertionError("as_dict() called — dict view materialized")

    def _no_spark(*args, **kwargs):
        raise AssertionError("the Spark checkpoint writer was chosen")

    with monkeypatch.context() as m:
        m.setattr(log_mod._FileState, "as_dict", _poisoned)
        m.setattr(distribution, "write_checkpoint_spark", _no_spark)
        jobs0 = int(sched.nextJobId())
        t0 = time.time()
        v = DeltaLog(p).write_checkpoint()
        driver_s = time.time() - t0
        jobs = int(sched.nextJobId()) - jobs0
        assert v == 2 and jobs == 0
        assert DeltaLog(p).list_checkpoint_versions()[-1] == 2
        t0 = time.time()
        n = DeltaLog(p).snapshot().num_files()
        replay_s = time.time() - t0
    assert n >= 1_000_000 and n == 1_000_003  # 2 real + synthetic + tail

    t0 = time.time()
    assert DeltaLog(q).write_checkpoint(spark=spark) == 2
    spark_s = time.time() - t0
    assert DeltaLog(q).snapshot().num_files() == n
    print(
        f"\nSOAK1M checkpoint write: driver={driver_s:.2f}s spark={spark_s:.2f}s "
        f"(replay off the driver checkpoint {replay_s:.2f}s)"
    )
    assert driver_s < 60, f"1M-add driver checkpoint took {driver_s:.1f}s"
