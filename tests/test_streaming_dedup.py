"""Streaming exact-dedup: watermarked state-bounded fingerprint dedup."""

import datetime
import os
import time


def test_streaming_dedup_drops_redeliveries(spark, tmpdir_path):
    from jodie_spark.streaming.dedup import streaming_exact_dedup

    src_dir = os.path.join(tmpdir_path, "src")
    t0 = datetime.datetime(2024, 1, 1, 10, 0)
    rows = [
        (1, t0, "fresh document one"),
        (2, t0 + datetime.timedelta(minutes=1), "Fresh   DOCUMENT one"),  # normalized dup
        (3, t0 + datetime.timedelta(minutes=2), "different document"),
        (4, t0 + datetime.timedelta(minutes=3), "fresh document one"),  # exact dup
    ]
    schema = "doc_id long, ts timestamp, text string"
    spark.createDataFrame(rows, schema).write.parquet(src_dir)

    stream = spark.readStream.schema(schema).parquet(src_dir)
    deduped = streaming_exact_dedup(stream, "text", ts_col="ts", watermark="10 minutes")
    assert deduped.isStreaming
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir_path, "_ckpt"))
        .start()
    )
    try:
        got = set()
        for _ in range(60):
            got = {r["doc_id"] for r in spark.sql("select * from dedup_test").collect()}
            if len(got) >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()
    # one survivor per distinct normalized content, first delivery wins
    assert len(got) == 2
    assert 3 in got
    assert len(got & {1, 2, 4}) == 1


def test_streaming_dedup_batch_fallback(spark):
    from jodie_spark.streaming.dedup import streaming_exact_dedup

    df = spark.createDataFrame(
        [(1, "same text"), (2, "SAME   text"), (3, "other")], "doc_id long, text string"
    )
    out = streaming_exact_dedup(df, "text")
    assert out.count() == 2
    assert set(out.columns) == {"doc_id", "text"}


def test_streaming_dedup_watermark_requires_ts(spark):
    import pytest

    from jodie_spark.streaming.dedup import streaming_exact_dedup

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="ts_col"):
        streaming_exact_dedup(df, "text", watermark="10 minutes")


# ---------------------------------------------------------------------------
# streaming CDC-apply merge sink
# ---------------------------------------------------------------------------

def test_stream_merge_upsert_and_delete(spark, tmpdir_path):
    import os

    from jodie_spark.sources.datasource import register
    from jodie_spark.streaming.delta_sink import write_stream_merge_to_delta
    from jodie_spark.tables.table import DeltaTable, write_delta

    register(spark)
    src = os.path.join(tmpdir_path, "cdc_src")
    dst = os.path.join(tmpdir_path, "cdc_dst")
    ckpt = os.path.join(tmpdir_path, "cdc_ckpt")

    def run():
        q = write_stream_merge_to_delta(
            spark.readStream.format("jodie_delta").load(src),
            dst,
            ckpt,
            keys=["k"],
            sequence_col="seq",
            delete_col="deleted",
            available_now=True,
        )
        assert q.awaitTermination(120)  # the available-now query stopped

    # batch 1: inserts incl. an out-of-order duplicate (seq decides)
    write_delta(
        spark.createDataFrame(
            [(1, "old", 1, False), (1, "new", 2, False), (2, "b", 1, False)],
            "k int, v string, seq int, deleted boolean",
        ),
        src,
    )
    run()
    got = {r["k"]: r["v"] for r in DeltaTable.forPath(spark, dst).toDF().collect()}
    assert got == {1: "new", 2: "b"}
    assert "deleted" not in DeltaTable.forPath(spark, dst).toDF().columns

    # batch 2: update k=1, delete k=2, insert k=3, and a no-op delete k=9
    write_delta(
        spark.createDataFrame(
            [(1, "NEW", 3, False), (2, None, 3, True), (3, "c", 1, False),
             (9, None, 1, True)],
            "k int, v string, seq int, deleted boolean",
        ),
        src,
        mode="append",
    )
    run()
    got = {r["k"]: r["v"] for r in DeltaTable.forPath(spark, dst).toDF().collect()}
    assert got == {1: "NEW", 3: "c"}


def test_stream_merge_cross_batch_stale_changes_are_noops(spark, tmpdir_path):
    """Out-of-order ACROSS micro-batches: when the target materializes
    the sequence column, a stale change (lower seq) arriving in a later
    batch must neither regress an update nor delete a row the feed has
    since re-upserted — within-batch dedup cannot see this case, only
    the merge's seq guard can."""
    import os

    from jodie_spark.sources.datasource import register
    from jodie_spark.streaming.delta_sink import write_stream_merge_to_delta
    from jodie_spark.tables.table import DeltaTable, write_delta

    register(spark)
    src = os.path.join(tmpdir_path, "stale_src")
    dst = os.path.join(tmpdir_path, "stale_dst")
    ckpt = os.path.join(tmpdir_path, "stale_ckpt")

    def run():
        q = write_stream_merge_to_delta(
            spark.readStream.format("jodie_delta").load(src),
            dst,
            ckpt,
            keys=["k"],
            sequence_col="seq",
            delete_col="deleted",
            available_now=True,
        )
        q.awaitTermination(120)

    write_delta(
        spark.createDataFrame(
            [(1, "v5", 5, False), (2, "w5", 5, False)],
            "k int, v string, seq int, deleted boolean",
        ),
        src,
    )
    run()
    # batch 2 arrives LATE: a stale update for k=1 (seq 3 < 5) and a
    # stale delete for k=2 (seq 4 < 5); plus a genuinely newer update
    write_delta(
        spark.createDataFrame(
            [(1, "v3-stale", 3, False), (2, None, 4, True), (1, "v6", 6, False)],
            "k int, v string, seq int, deleted boolean",
        ),
        src,
        mode="append",
    )
    run()
    rows = {r["k"]: (r["v"], r["seq"]) for r in DeltaTable.forPath(spark, dst).toDF().collect()}
    # k=1 took the seq-6 update (within-batch dedup picked it over the
    # stale seq-3); k=2 survived the stale delete
    assert rows == {1: ("v6", 6), 2: ("w5", 5)}


def test_interval_join_batch_plan_and_stream_parity(spark, tmpdir_path):
    """interval_join on the unified API: the batch plan shuffles on the
    equality key (SortMergeJoin/ShuffledHashJoin, never a cartesian),
    and the same code over readStream inputs with a watermark produces
    the same pairs through Spark's stream-stream join."""
    import datetime
    import os

    from jodie_spark.sources.datasource import register
    from jodie_spark.streaming.events import interval_join
    from jodie_spark.tables.table import write_delta

    t0 = datetime.datetime(2024, 1, 1, 10, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    views = [(1, ts(0), 100), (1, ts(20), 101), (2, ts(5), 102)]
    buys = [(1, ts(4), 200, 9.0), (1, ts(21), 201, 5.0), (2, ts(40), 202, 7.0),
            (3, ts(1), 203, 1.0)]
    vdf = spark.createDataFrame(views, "user_id long, ts timestamp, event_id long")
    bdf = spark.createDataFrame(
        buys, "user_id long, ts timestamp, event_id long, value double"
    )
    out = interval_join(vdf, bdf, on="user_id", upper="10 minutes")
    batch_pairs = sorted(
        (r["event_id"], r["event_id_r"]) for r in out.collect()
    )
    # view 100 pairs with buy 200 (4 min); view 101 with 201 (1 min);
    # user 2's buy is 35 min after the view; user 3 has no view
    assert batch_pairs == [(100, 200), (101, 201)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    # same operator over streams: delta sources + watermark
    register(spark)
    vp, bp = os.path.join(tmpdir_path, "iv_v"), os.path.join(tmpdir_path, "iv_b")
    write_delta(vdf, vp)
    write_delta(bdf, bp)
    sjoin = interval_join(
        spark.readStream.format("jodie_delta").load(vp),
        spark.readStream.format("jodie_delta").load(bp),
        on="user_id",
        upper="10 minutes",
        watermark="1 hour",
    )
    q = (
        sjoin.writeStream.format("memory")
        .queryName("iv_join")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)
    stream_pairs = sorted(
        (r["event_id"], r["event_id_r"])
        for r in spark.table("iv_join").collect()
    )
    assert stream_pairs == batch_pairs


def test_stream_merge_null_sequence_is_not_dropped(spark, tmpdir_path):
    """Round-7 advice: the cross-batch seq guard must be NULL-safe. A
    NULL sequence value on either side used to make the matched
    update/delete conditions evaluate to NULL — the row became
    permanently un-updatable and its deletes were silently dropped.
    Unknown ordering now means "apply"."""
    import os

    from jodie_spark.sources.datasource import register
    from jodie_spark.streaming.delta_sink import write_stream_merge_to_delta
    from jodie_spark.tables.table import DeltaTable, write_delta

    register(spark)
    src = os.path.join(tmpdir_path, "nullseq_src")
    dst = os.path.join(tmpdir_path, "nullseq_dst")
    ckpt = os.path.join(tmpdir_path, "nullseq_ckpt")

    def run():
        q = write_stream_merge_to_delta(
            spark.readStream.format("jodie_delta").load(src),
            dst,
            ckpt,
            keys=["k"],
            sequence_col="seq",
            delete_col="deleted",
            available_now=True,
        )
        q.awaitTermination(120)

    # batch 1: k=1 lands with a NULL sequence, k=2 with seq 5
    write_delta(
        spark.createDataFrame(
            [(1, "a", None, False), (2, "b", 5, False)],
            "k int, v string, seq int, deleted boolean",
        ),
        src,
    )
    run()
    # batch 2: update the NULL-seq row (must apply — it used to be
    # permanently stuck), delete k=2 via a NULL-seq delete event (must
    # apply — it used to be silently dropped)
    write_delta(
        spark.createDataFrame(
            [(1, "a2", 7, False), (2, None, None, True)],
            "k int, v string, seq int, deleted boolean",
        ),
        src,
        mode="append",
    )
    run()
    rows = {r["k"]: r["v"] for r in DeltaTable.forPath(spark, dst).toDF().collect()}
    assert rows == {1: "a2"}


def test_interval_join_right_suffix_collision(spark):
    """Round-7 advice: a left side that already carries a ``<col>_r``
    column must not produce duplicate output names — the suffix doubles
    until it is collision-free."""
    import datetime

    from jodie_spark.streaming.events import interval_join

    t0 = datetime.datetime(2024, 1, 1, 10, 0)
    left = spark.createDataFrame(
        [(1, t0, 77)], "user_id long, ts timestamp, ts_r long"
    )
    right = spark.createDataFrame(
        [(1, t0 + datetime.timedelta(minutes=2), 9.5)],
        "user_id long, ts timestamp, value double",
    )
    out = interval_join(left, right, on="user_id", upper="10 minutes")
    assert len(out.columns) == len(set(out.columns))
    row = out.collect()[0]
    assert row["ts_r"] == 77  # the LEFT column kept its name
    assert row["ts_r_r"] == t0 + datetime.timedelta(minutes=2)
    assert row["value_r_r"] == 9.5


def test_stream_merge_schema_evolution_across_restart(spark, tmpdir_path):
    """A restarted CDC stream whose source grew a column evolves the
    target under schema_evolution=True: the new column is added
    (metadata-only) before the merge, old rows surface it as NULL, and
    the delete/sequence clause shapes keep working."""
    import os

    from jodie_spark.sources.datasource import register
    from jodie_spark.streaming.delta_sink import write_stream_merge_to_delta
    from jodie_spark.tables.table import DeltaTable, write_delta

    register(spark)
    src = os.path.join(tmpdir_path, "ev_src")
    dst = os.path.join(tmpdir_path, "ev_dst")
    ckpt = os.path.join(tmpdir_path, "ev_ckpt")

    def run():
        q = write_stream_merge_to_delta(
            spark.readStream.format("jodie_delta").load(src),
            dst,
            ckpt,
            keys=["k"],
            sequence_col="seq",
            delete_col="deleted",
            available_now=True,
            schema_evolution=True,
        )
        q.awaitTermination(120)

    write_delta(
        spark.createDataFrame(
            [(1, "a", 1, False), (2, "b", 1, False)],
            "k int, v string, seq int, deleted boolean",
        ),
        src,
    )
    run()
    # source grows a column between runs (mergeSchema append)
    write_delta(
        spark.createDataFrame(
            [(2, "b2", 2, False, "gold"), (3, "c", 2, False, "bronze")],
            "k int, v string, seq int, deleted boolean, tier string",
        ),
        src,
        mode="append",
        options={"mergeSchema": "true"},
    )
    run()
    rows = {r["k"]: (r["v"], r["tier"]) for r in DeltaTable.forPath(spark, dst).toDF().collect()}
    assert rows == {1: ("a", None), 2: ("b2", "gold"), 3: ("c", "bronze")}


def test_stream_merge_full_snapshot_mode(spark, tmpdir_path):
    """full_snapshot=True: each batch is the complete desired state —
    target keys absent from the batch delete via the by-source clause,
    so the table converges to exactly the snapshot contents."""
    import os

    from jodie_spark.sources.datasource import register
    from jodie_spark.streaming.delta_sink import write_stream_merge_to_delta
    from jodie_spark.tables.table import DeltaTable, write_delta

    register(spark)
    src = os.path.join(tmpdir_path, "snap_src")
    dst = os.path.join(tmpdir_path, "snap_dst")

    def run(i):
        # each run replays exactly the snapshot-overwrite commit i;
        # ignoreChanges is required because an overwrite removes files
        # (the adds of that commit ARE the new snapshot)
        q = write_stream_merge_to_delta(
            spark.readStream.format("jodie_delta")
            .option("startingVersion", i)
            .option("ignoreChanges", "true")
            .load(src),
            dst,
            os.path.join(tmpdir_path, f"snap_ckpt{i}"),
            keys=["k"],
            available_now=True,
            full_snapshot=True,
        )
        q.awaitTermination(120)

    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string"),
        src,
    )
    run(0)
    assert {
        r["k"]: r["v"] for r in DeltaTable.forPath(spark, dst).toDF().collect()
    } == {1: "a", 2: "b", 3: "c"}
    # snapshot 2: key 2 gone, key 1 changed, key 4 new
    write_delta(
        spark.createDataFrame([(1, "a2"), (3, "c"), (4, "d")], "k int, v string"),
        src,
        mode="overwrite",
    )
    run(1)
    assert {
        r["k"]: r["v"] for r in DeltaTable.forPath(spark, dst).toDF().collect()
    } == {1: "a2", 3: "c", 4: "d"}


def test_stream_merge_full_snapshot_empty_batch(spark, tmpdir_path):
    """Regression (round-8 advice): by default an empty micro-batch is
    SKIPPED even under full_snapshot (a transient empty batch must not
    wipe the table); full_snapshot_allow_empty=True opts in to treating
    it as the genuine empty snapshot and deletes every row."""
    import os

    from jodie_spark.sources.datasource import register
    from jodie_spark.streaming.delta_sink import write_stream_merge_to_delta
    from jodie_spark.tables.table import DeltaTable, write_delta

    register(spark)
    src = os.path.join(tmpdir_path, "esnap_src")
    dst = os.path.join(tmpdir_path, "esnap_dst")

    def run(i, allow_empty):
        q = write_stream_merge_to_delta(
            spark.readStream.format("jodie_delta")
            .option("startingVersion", i)
            .option("ignoreChanges", "true")
            .load(src),
            dst,
            os.path.join(tmpdir_path, f"esnap_ckpt{i}_{allow_empty}"),
            keys=["k"],
            available_now=True,
            full_snapshot=True,
            full_snapshot_allow_empty=allow_empty,
        )
        q.awaitTermination(120)

    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), src
    )
    run(0, False)
    assert DeltaTable.forPath(spark, dst).toDF().count() == 2
    # empty snapshot arrives (overwrite with zero rows)
    empty = spark.createDataFrame([], "k int, v string")
    write_delta(empty, src, mode="overwrite")
    # default: skipped — table unchanged
    run(1, False)
    assert DeltaTable.forPath(spark, dst).toDF().count() == 2
    # opt-in: converges to empty
    run(1, True)
    assert DeltaTable.forPath(spark, dst).toDF().count() == 0
