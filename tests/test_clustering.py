"""Liquid clustering: clusterBy metadata, OPTIMIZE re-clustering,
ALTER CLUSTER BY, protocol features."""

import json
import os

import pytest

from jodie_spark.errors import JodieValidationError
from jodie_spark.tables.table import DeltaTable, write_delta


def _minmax(t, col):
    out = []
    for a in t.snapshot().add_files():
        st = json.loads(a["stats"])
        out.append((int(st["minValues"][col]), int(st["maxValues"][col])))
    return sorted(out)


def test_create_clustered_table_metadata_and_protocol(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "ct")
    write_delta(
        spark.range(100).selectExpr("id", "id % 10 as b"), p, cluster_by=["b", "id"]
    )
    t = DeltaTable.forPath(spark, p)
    assert t.cluster_by() == ["b", "id"]
    proto = t.snapshot().protocol
    assert "clustering" in proto["writerFeatures"]
    assert "domainMetadata" in proto["writerFeatures"]
    assert int(proto["minWriterVersion"]) == 7


def test_optimize_reclusters_clustered_table(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "copt")
    write_delta(
        spark.range(0, 1000).selectExpr("id", "id % 7 as v"),
        p,
        cluster_by=["id"],
    )
    # append shuffled batches so files interleave id ranges
    for lo in (1000, 2000):
        write_delta(
            spark.range(lo, lo + 1000)
            .selectExpr("id", "id % 7 as v")
            .repartition(4),
            p,
            mode="append",
        )
    t = DeltaTable.forPath(spark, p)
    t.optimize().executeCompaction(target_file_size=20_000)
    # post-optimize files have non-overlapping id ranges (range clustering)
    ranges = _minmax(t, "id")
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    # data intact
    assert t.toDF().count() == 3000
    assert t.history(1).collect()[0]["operation"] == "OPTIMIZE"


def test_optimize_clustering_is_incremental(spark, tmpdir_path):
    """Delta's ZCUBE model: a second OPTIMIZE with no new data is a
    no-op; after an append only the NEW files rewrite (cost tracks data
    written since the last OPTIMIZE, not table size — the property that
    makes clustered OPTIMIZE viable at 100 TB)."""
    p = os.path.join(tmpdir_path, "inc")
    write_delta(
        spark.range(0, 2000).selectExpr("id", "id % 7 as v").repartition(4),
        p,
        cluster_by=["id"],
    )
    t = DeltaTable.forPath(spark, p)
    t.optimize().executeCompaction(target_file_size=20_000)
    clustered = {
        a["path"]: a for a in DeltaTable.forPath(spark, p).snapshot().add_files()
    }
    assert all((a.get("tags") or {}).get("ZCUBE_ID") for a in clustered.values())
    # no new data → no-op (zero files rewritten)
    m = {k: v for k, v in DeltaTable.forPath(spark, p).optimize()
         .executeCompaction(target_file_size=20_000).collect()[0]["metrics"].items()}
    assert m["numRemovedFiles"] == "0"
    # append; only the new files rewrite
    write_delta(
        spark.range(2000, 2500).selectExpr("id", "id % 7 as v").repartition(3),
        p,
        mode="append",
    )
    m2 = {k: v for k, v in DeltaTable.forPath(spark, p).optimize()
          .executeCompaction(target_file_size=20_000).collect()[0]["metrics"].items()}
    assert m2["numRemovedFiles"] == "3"  # exactly the appended files
    survivors = DeltaTable.forPath(spark, p).snapshot().add_files()
    assert set(clustered) <= {a["path"] for a in survivors}
    # OPTIMIZE FULL ignores the zcube tags and rewrites everything
    m3 = {k: v for k, v in DeltaTable.forPath(spark, p).optimize()
          .executeFull(target_file_size=20_000).collect()[0]["metrics"].items()}
    assert int(m3["numRemovedFiles"]) == len(survivors)
    t2 = DeltaTable.forPath(spark, p)
    assert t2.toDF().count() == 2500
    ranges = _minmax(t2, "id")
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


def test_zcube_tags_survive_both_checkpoint_writers(spark, tmpdir_path):
    """tags is an optional add field that must round-trip through both
    checkpoint paths, or incremental clustering silently degrades to
    full rewrites after the first checkpoint."""
    from jodie_spark.tables.log import DeltaLog

    for spark_side in (True, False):
        p = os.path.join(tmpdir_path, f"cp_{spark_side}")
        write_delta(
            spark.range(0, 500).selectExpr("id", "id % 3 as v").repartition(2),
            p,
            cluster_by=["id"],
        )
        DeltaTable.forPath(spark, p).optimize().executeCompaction(
            target_file_size=10_000
        )
        log = DeltaLog(p)
        log.write_checkpoint(spark=None if not spark_side else spark)
        # drop the JSON tail so state must come from the checkpoint
        snap = log.snapshot()
        tags = [(a.get("tags") or {}).get("ZCUBE_ID") for a in snap.add_files()]
        assert tags and all(tags), tags
        # and the incremental no-op survives the checkpoint roundtrip
        m = {k: v for k, v in DeltaTable.forPath(spark, p).optimize()
             .executeCompaction(target_file_size=10_000).collect()[0]["metrics"].items()}
        assert m["numRemovedFiles"] == "0"


def test_alter_cluster_by_and_drop(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "alt")
    write_delta(spark.range(10).selectExpr("id", "id % 2 as b"), p)
    t = DeltaTable.forPath(spark, p)
    assert t.cluster_by() == []
    t.set_cluster_by(["b"])
    t = DeltaTable.forPath(spark, p)
    assert t.cluster_by() == ["b"]
    # protocol upgraded in the same commit
    assert "clustering" in t.snapshot().protocol["writerFeatures"]
    assert t.history(1).collect()[0]["operation"] == "CLUSTER BY"
    t.set_cluster_by([])
    assert DeltaTable.forPath(spark, p).cluster_by() == []
    with pytest.raises(JodieValidationError, match="not in table"):
        t.set_cluster_by(["nope"])


def test_cluster_by_create_guards(spark, tmpdir_path):
    df = spark.range(5).selectExpr("id", "id % 2 as b")
    with pytest.raises(JodieValidationError, match="mutually exclusive"):
        write_delta(
            df, os.path.join(tmpdir_path, "x"), cluster_by=["id"], partition_by=["b"]
        )
    with pytest.raises(JodieValidationError, match="not in data"):
        write_delta(df, os.path.join(tmpdir_path, "y"), cluster_by=["zz"])
    write_delta(df, os.path.join(tmpdir_path, "z"))
    with pytest.raises(JodieValidationError, match="table creation"):
        write_delta(df, os.path.join(tmpdir_path, "z"), mode="append", cluster_by=["id"])


def test_clustering_domain_survives_checkpoint(spark, tmpdir_path):
    from jodie_spark.tables.log import DeltaLog

    p = os.path.join(tmpdir_path, "cp")
    write_delta(spark.range(20).selectExpr("id", "id as v"), p, cluster_by=["id"])
    write_delta(spark.range(20, 30).selectExpr("id", "id as v"), p, mode="append")
    DeltaLog(p).write_checkpoint()
    assert DeltaTable.forPath(spark, p).cluster_by() == ["id"]


@pytest.mark.parametrize("cols", [["a.b"], ["a.b", "k"], ["s.t", "k"]])
def test_optimize_clusters_on_dotted_column_names(spark, tmpdir_path, cols):
    """A clustering column named ``a.b`` is a top-level column, not a
    struct field: the range clustering, the Z-order key and its string
    fallback all quote it."""
    p = os.path.join(tmpdir_path, "dot")
    df = spark.range(30).selectExpr("id AS k", "29 - id AS `a.b`", "CAST(id AS STRING) AS `s.t`")
    for part in range(3):  # three files, so compaction has work
        write_delta(
            df.filter(f"k % 3 = {part}").coalesce(1),
            p,
            **({"cluster_by": cols} if part == 0 else {"mode": "append"}),
        )
    t = DeltaTable.forPath(spark, p)
    t.optimize().executeCompaction()
    assert t.history(1).collect()[0]["operation"] == "OPTIMIZE"
    assert sorted(tuple(r) for r in t.toDF().collect()) == sorted(
        (i, 29 - i, str(i)) for i in range(30)
    )


def test_refused_cluster_by_leaves_no_files(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "refused")
    with pytest.raises(JodieValidationError, match="cluster_by columns not in data"):
        write_delta(spark.range(3).selectExpr("id AS k"), p, cluster_by=["nope"])
    with pytest.raises(JodieValidationError, match="mutually exclusive"):
        write_delta(
            spark.range(3).selectExpr("id AS k"), p, cluster_by=["k"], partition_by=["k"]
        )
    assert not os.path.exists(p) or os.listdir(p) == []
