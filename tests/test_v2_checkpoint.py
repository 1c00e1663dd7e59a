"""V2 (uuid-named manifest + sidecar) checkpoints: READ support on
hand-built fixtures shaped like modern delta-spark output, and WRITE
support (delta.checkpointPolicy=v2) through both checkpoint writers."""

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from jodie_spark.errors import DeltaProtocolError
from jodie_spark.tables.log import DeltaLog
from jodie_spark.tables.table import DeltaTable, write_delta

_STR_MAP = pa.map_(pa.string(), pa.string())
_ADD_T = pa.struct(
    [("path", pa.string()), ("partitionValues", _STR_MAP), ("size", pa.int64()),
     ("modificationTime", pa.int64()), ("dataChange", pa.bool_()), ("stats", pa.string())]
)
_META_T = pa.struct(
    [("id", pa.string()), ("format", pa.struct([("provider", pa.string()), ("options", _STR_MAP)])),
     ("schemaString", pa.string()), ("partitionColumns", pa.list_(pa.string())),
     ("configuration", _STR_MAP), ("createdTime", pa.int64())]
)
_PROTO_T = pa.struct(
    [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32()),
     ("readerFeatures", pa.list_(pa.string())), ("writerFeatures", pa.list_(pa.string()))]
)
_CKPT_META_T = pa.struct([("version", pa.int64())])
_SIDECAR_T = pa.struct(
    [("path", pa.string()), ("sizeInBytes", pa.int64()), ("modificationTime", pa.int64())]
)


def _build_v2_checkpoint(table_path, json_manifest=False):
    """Convert the table's latest classic state into a v2 checkpoint
    (manifest + one sidecar), delete the commit JSONs, and stamp a
    v2Checkpoint-featured protocol."""
    log = DeltaLog(table_path)
    snap = log.snapshot()
    v = snap.version
    proto = {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["v2Checkpoint"], "writerFeatures": ["v2Checkpoint"],
    }
    sidecar_dir = os.path.join(log.log_path, "_sidecars")
    os.makedirs(sidecar_dir, exist_ok=True)
    sidecar_name = f"{uuid.uuid4()}.parquet"
    adds = [
        {"path": a["path"], "partitionValues": a.get("partitionValues") or {},
         "size": int(a.get("size") or 0), "modificationTime": int(a.get("modificationTime") or 0),
         "dataChange": False, "stats": a.get("stats")}
        for a in snap.add_files()
    ]
    pq.write_table(
        pa.Table.from_pylist([{"add": a} for a in adds], schema=pa.schema([("add", _ADD_T)])),
        os.path.join(sidecar_dir, sidecar_name),
    )
    manifest_rows = [
        {"protocol": proto},
        {"metaData": snap.metadata},
        {"checkpointMetadata": {"version": v}},
        {"sidecar": {"path": sidecar_name,
                     "sizeInBytes": os.path.getsize(os.path.join(sidecar_dir, sidecar_name)),
                     "modificationTime": 0}},
    ]
    if json_manifest:
        mpath = os.path.join(log.log_path, f"{v:020d}.checkpoint.{uuid.uuid4()}.json")
        with open(mpath, "w") as fh:
            for r in manifest_rows:
                fh.write(json.dumps(r) + "\n")
    else:
        mpath = os.path.join(log.log_path, f"{v:020d}.checkpoint.{uuid.uuid4()}.parquet")
        schema = pa.schema(
            [("protocol", _PROTO_T), ("metaData", _META_T),
             ("checkpointMetadata", _CKPT_META_T), ("sidecar", _SIDECAR_T)]
        )
        pq.write_table(pa.Table.from_pylist(manifest_rows, schema=schema), mpath)
    # prove the checkpoint is actually read: drop every commit JSON
    for name in os.listdir(log.log_path):
        if (
            name.endswith(".json")
            and name.split(".")[0].isdigit()
            and ".checkpoint." not in name
        ):
            os.remove(os.path.join(log.log_path, name))
    return v


@pytest.mark.parametrize("json_manifest", [False, True])
def test_v2_checkpoint_read(spark, tmpdir_path, json_manifest):
    p = os.path.join(tmpdir_path, "v2")
    write_delta(spark.range(50).selectExpr("id", "id % 3 as m"), p)
    write_delta(spark.range(50, 80).selectExpr("id", "id % 3 as m"), p, mode="append")
    v = _build_v2_checkpoint(p, json_manifest=json_manifest)

    log = DeltaLog(p)
    assert log.list_checkpoint_versions() == [v]
    snap = log.snapshot()
    assert snap.version == v
    assert len(snap.add_files()) > 0
    t = DeltaTable.forPath(spark, p)
    assert t.toDF().count() == 80  # data read through manifest+sidecar

    # Spark-side files_df sees the same state
    from jodie_spark.tables.distribution import files_df

    fdf = files_df(spark, p)
    assert fdf.filter("add is not null").count() == len(snap.add_files())

    # writes now MAINTAIN the v2 layout: an append succeeds and a
    # fresh checkpoint on this table is written as manifest+sidecars
    write_delta(spark.range(100, 105).selectExpr("id", "id % 3 as m"), p, mode="append")
    assert DeltaTable.forPath(spark, p).toDF().count() == 85


def test_v2_checkpoint_tail_replay(spark, tmpdir_path):
    """Commits AFTER the v2 checkpoint replay on top of it."""
    p = os.path.join(tmpdir_path, "v2tail")
    write_delta(spark.range(10).selectExpr("id"), p)
    v = _build_v2_checkpoint(p)
    # hand-write a tail commit removing nothing and adding nothing (a
    # properties change) — replay must start from the v2 base
    log = DeltaLog(p)
    meta = dict(log.snapshot().metadata)
    conf = dict(meta.get("configuration") or {})
    conf["foo"] = "bar"
    meta["configuration"] = conf
    with open(os.path.join(log.log_path, "%020d.json" % (v + 1)), "w") as fh:
        fh.write(json.dumps({"metaData": meta}) + "\n")
    log2 = DeltaLog(p)
    snap = log2.snapshot()
    assert snap.version == v + 1
    assert snap.configuration.get("foo") == "bar"
    assert len(snap.add_files()) == len(DeltaLog(p).snapshot(v).add_files())


# ---------------------------------------------------------------------------
# V2 checkpoint WRITE (delta.checkpointPolicy=v2)
# ---------------------------------------------------------------------------

def test_v2_checkpoint_write_roundtrip(spark, tmpdir_path):
    from jodie_spark.tables.log import DeltaLog
    from jodie_spark.tables.table import DeltaTable, write_delta

    # both writers: driver (spark=False) and Spark (spark=<session>)
    for writer in (False, spark):
        p = os.path.join(tmpdir_path, "v2w_spark" if writer else "v2w_driver")
        write_delta(
            spark.range(20).selectExpr("id", "id * 2 as v").repartition(3),
            p,
            options={"delta.checkpointPolicy": "v2"},
        )
        t = DeltaTable.forPath(spark, p)
        t.delete("id >= 15")
        proto = t.snapshot().protocol
        assert "v2Checkpoint" in proto["readerFeatures"]
        v = DeltaLog(p).write_checkpoint(spark=writer)
        log_dir = os.path.join(p, "_delta_log")
        manifests = [
            n for n in os.listdir(log_dir)
            if n.startswith("%020d.checkpoint." % v) and n.endswith(".parquet")
        ]
        assert len(manifests) == 1
        # uuid-named manifest (not a classic single/multipart name)
        mid = manifests[0][len("%020d.checkpoint." % v):-len(".parquet")]
        assert len(mid) == 32 and "." not in mid
        assert os.path.isdir(os.path.join(log_dir, "_sidecars"))
        assert os.listdir(os.path.join(log_dir, "_sidecars"))
        # snapshot + reads seeded from the v2 checkpoint (delete the tail
        # json to force checkpoint-only reconstruction of state ≤ v)
        t2 = DeltaTable.forPath(spark, p)
        assert sorted(r["id"] for r in t2.toDF().collect()) == list(range(15))
        # another append + re-checkpoint: v2 base + tail, then v2 again
        write_delta(spark.range(100, 103).selectExpr("id", "id*2 as v"), p, mode="append")
        DeltaLog(p).write_checkpoint(spark=writer)
        t3 = DeltaTable.forPath(spark, p)
        assert sorted(r["id"] for r in t3.toDF().collect()) == list(range(15)) + [100, 101, 102]


def test_v2_checkpoint_write_preserves_dv_and_domains(spark, tmpdir_path):
    from jodie_spark.tables.log import ROW_TRACKING_DOMAIN, DeltaLog
    from jodie_spark.tables.table import DeltaTable, write_delta

    for writer in (False, spark):
        p = os.path.join(tmpdir_path, "v2dv_spark" if writer else "v2dv_driver")
        write_delta(
            spark.range(10).selectExpr("id", "id as v").coalesce(1),
            p,
            options={
                "delta.checkpointPolicy": "v2",
                "delta.enableRowTracking": "true",
            },
        )
        DeltaTable.forPath(spark, p).delete("id % 2 = 1", deletion_vectors=True)
        v = DeltaLog(p).write_checkpoint(spark=writer)
        for dead in range(v + 1):  # state must come from the checkpoint
            os.remove(DeltaLog(p).commit_file_path(dead))
        t = DeltaTable.forPath(spark, p)
        assert sorted(r["id"] for r in t.toDF().collect()) == [0, 2, 4, 6, 8]
        assert any(a.get("deletionVector") for a in t.snapshot().add_files())
        dm = DeltaLog(p).latest_domain_metadata(ROW_TRACKING_DOMAIN)
        assert dm is not None and "rowIdHighWaterMark" in dm["configuration"]
