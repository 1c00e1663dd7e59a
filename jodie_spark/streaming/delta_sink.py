"""Structured-Streaming sink into a native Delta table.

``foreachBatch`` + the transactional append path: each micro-batch
commits one log version, so exactly-once within a batch comes from the
log's atomic commit and restart recovery comes from the stream
checkpoint (standard Delta-sink semantics on a per-batch granularity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def write_stream_to_delta(
    stream: DataFrame,
    path: str,
    checkpoint_location: str,
    partition_by: list[str] | None = None,
    query_name: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Start a streaming query appending each micro-batch to the Delta
    table at ``path`` (created on first batch). ``available_now=True``
    drains everything currently available then terminates — the
    batch-backfill / oracle-check mode.

    Exactly-once: foreachBatch can REPLAY a batch (commit lands, then
    the driver dies before the stream checkpoint records it), and a
    plain append would duplicate the rows. Every commit therefore
    carries a ``txn`` action keyed by the checkpoint location with
    ``version = batch_id`` — the idempotent-write pattern delta-spark
    documents for foreachBatch sinks — so a replayed batch becomes a
    no-op instead of a duplicate append."""
    import os as _os

    from jodie_spark.tables.log import DeltaLog
    from jodie_spark.tables.table import write_delta

    txn_app = f"jodie_stream_append:{_os.path.abspath(checkpoint_location)}"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        mode = "append" if DeltaLog(path).exists() else "error"
        write_delta(
            batch_df,
            path,
            mode=mode,
            partition_by=partition_by or [],
            options={"txnAppId": txn_app, "txnVersion": str(batch_id)},
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_location
    )
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_scd2_to_delta(
    stream: DataFrame,
    path: str,
    checkpoint_location: str,
    primary_key: str,
    attr_cols: list[str],
    effective_time_col: str = "effective_time",
    is_current_col: str = "is_current",
    end_time_col: str = "end_time",
    query_name: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming Type-2 SCD sink: each micro-batch runs the reference's
    staged-union + single-merge Type2 upsert (Type2Scd.scala:25-81)
    against the Delta dimension at ``path``.

    The stream carries ``(primary_key, *attr_cols, effective_time_col)``
    rows. Within a batch, rows collapse to the LATEST change per key
    (greatest effective time — a merge source must be key-unique), so
    intra-batch history finer than the batch granularity folds into
    one version per key per batch: the standard foreachBatch SCD
    trade-off; shrink the trigger interval for finer history. The
    first non-empty batch creates the dimension (everything current,
    NULL end_time). Exactly-once per batch comes from the atomic
    commit + the stream checkpoint.

    Scale shape identical to the batch operator: one join bounded by
    2×|batch| + one stats-pruned merge; the batch is cached for the
    call so the merge's jobs don't re-scan the streaming source."""
    from jodie_spark.operators.scd import type2_generic_upsert
    from jodie_spark.tables.gateway import select_expr
    from jodie_spark.tables.log import DeltaLog
    from jodie_spark.tables.merge import quote_ident as q, type_ddl
    from jodie_spark.tables.table import DeltaTable, write_delta

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()
        try:
            if batch_df.isEmpty():
                return
            ranked = select_expr(
                batch_df,
                "*",
                f"row_number() OVER (PARTITION BY {q(primary_key)} "
                f"ORDER BY {q(effective_time_col)} DESC) AS __rn__",
            )
            batch = select_expr(
                ranked.filter("__rn__ = 1"),
                *[q(c) for c in (primary_key, *attr_cols, effective_time_col)],
            )
            if not DeltaLog(path).exists():
                end_type = type_ddl(batch.schema[effective_time_col].dataType)
                init = select_expr(
                    batch,
                    *[q(c) for c in (primary_key, *attr_cols)],
                    f"TRUE AS {q(is_current_col)}",
                    q(effective_time_col),
                    f"CAST(NULL AS {end_type}) AS {q(end_time_col)}",
                )
                write_delta(init, path)
                return
            type2_generic_upsert(
                DeltaTable.forPath(batch.sparkSession, path),
                batch,
                primary_key,
                attr_cols,
                is_current_col,
                effective_time_col,
                end_time_col,
            )
        finally:
            batch_df.unpersist()

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_location
    )
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_merge_to_delta(
    stream: DataFrame,
    path: str,
    checkpoint_location: str,
    keys: list[str],
    sequence_col: str | None = None,
    delete_col: str | None = None,
    partition_by: list[str] | None = None,
    query_name: str | None = None,
    available_now: bool = False,
    schema_evolution: bool = False,
    full_snapshot: bool = False,
    full_snapshot_allow_empty: bool = False,
) -> StreamingQuery:
    """Streaming upsert (CDC-apply) sink: each micro-batch MERGEs into
    the Delta table at ``path`` on ``keys`` — the foreachBatch pattern
    delta-spark documents for applying change streams.

    ``full_snapshot=True`` treats every micro-batch as the COMPLETE
    desired state (snapshot-feed ingestion): target keys absent from
    the batch are DELETED via a whenNotMatchedBySource clause, so the
    table converges to exactly the batch contents. Use with
    ``available_now=True`` (one batch = one snapshot) or a source
    that emits whole snapshots per batch; composes with the delete
    column (explicit delete rows win) but usually replaces it.

    EMPTY batches are skipped by default — a transient empty
    micro-batch (source hiccup, rebalance) must not wipe the table, so
    convergence-to-empty is NOT promised unless
    ``full_snapshot_allow_empty=True``, which opts in to treating an
    empty non-first batch as the genuine empty snapshot and deletes
    every target row.

    ``schema_evolution=True`` lets a RESTARTED stream whose source
    grew columns evolve the target: batch columns missing from the
    target are added (metadata-only ADD COLUMNS — fresh mapping
    ids/physical names on mapped tables) before the merge, so the
    explicit update/insert clauses the delete/sequence paths build can
    reference them. Pre-evolution rows surface the new columns as
    NULL. Off by default: an unexpected source column is usually a
    bug upstream, and the loud merge failure is the right signal.

    Within a batch, rows collapse to one per key: the one with the
    greatest ``sequence_col`` when given (deterministic last-wins for
    out-of-order feeds), else an arbitrary representative
    (``dropDuplicates``). Rows whose ``delete_col`` is true delete the
    matching key; others update-all / insert-all. The first non-empty
    batch creates the table. Exactly-once per batch comes from the
    atomic commit + the stream checkpoint, like the append sink.

    CROSS-batch sequencing: when the target table itself stores
    ``sequence_col``, matched clauses additionally require
    ``s.seq >= t.seq`` — a stale change that arrives in a LATER
    micro-batch than a newer one (out-of-order across batches, the
    case within-batch dedup cannot see) is a no-op instead of
    regressing the row. Without the column in the target, within-batch
    last-wins is all that can be promised.

    The micro-batch is cached for the duration of the sink call, and the
    emptiness check's job fills the cache. The cache is there to give
    Spark the batch's size, not to save re-scans (the one-task merge
    reads its source once): a foreachBatch plan has no size estimate,
    a filled cache has its real one. The merge's one-task gate
    (``gateway.size_estimate``) needs that size, and so does Spark's
    planning of the one-task join, which leaves two one-partition sides
    unshuffled only when both are known to be small. Skipping the check
    leaves the cache unfilled: the merge then probes, and a warm batch
    into a one-file table runs 6 Spark jobs instead of 2. Do not remove
    the check or the cache to save a job."""
    from jodie_spark.tables.log import DeltaLog
    from jodie_spark.tables.gateway import num_partitions, select_expr
    from jodie_spark.tables.merge import quote_ident as q, star_assignments
    from jodie_spark.tables.table import DeltaTable, write_delta

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()
        try:
            if batch_df.isEmpty():
                if (
                    full_snapshot
                    and full_snapshot_allow_empty
                    and DeltaLog(path).exists()
                ):
                    # opted-in: an empty snapshot means "no rows" —
                    # converge by deleting everything (stats-pruned
                    # full-table delete, one commit)
                    DeltaTable.forPath(batch_df.sparkSession, path).delete()
                return
            # a one-partition batch dedups in place: coalesce(1) reports
            # a single partition, which satisfies the window's (and the
            # dedup aggregate's) distribution, so no shuffle is planned
            # before the merge. Asking plans the batch once and runs no
            # job; a size check in its place costs more round trips
            rows = batch_df.coalesce(1) if num_partitions(batch_df) == 1 else batch_df
            if sequence_col is not None:
                # __rn__ stays on the batch: every clause and the first
                # write name their columns
                batch = select_expr(
                    rows,
                    "*",
                    "row_number() OVER (PARTITION BY "
                    f"{', '.join(q(k) for k in keys)} "
                    f"ORDER BY {q(sequence_col)} DESC) AS __rn__",
                ).filter("__rn__ = 1")
            else:
                batch = rows.dropDuplicates(keys)
            batch_schema = batch_df.schema
            data_cols = [f.name for f in batch_schema.fields if f.name != delete_col]
            if not DeltaLog(path).exists():
                init = batch
                if delete_col is not None:
                    init = init.filter(f"not coalesce({q(delete_col)}, false)")
                write_delta(
                    select_expr(init, *[q(c) for c in data_cols]),
                    path,
                    partition_by=partition_by or [],
                )
                return
            t = DeltaTable.forPath(batch.sparkSession, path)
            # target columns come from the snapshot schema, not
            # toDF().columns — building the read DataFrame just to list
            # columns cost a few hundred ms of py4j per micro-batch
            tgt_schema = t.schema()
            tgt_cols = [f.name for f in tgt_schema.fields]
            if schema_evolution:
                existing = {c.lower() for c in tgt_cols}
                new_cols = {
                    f.name: f.dataType
                    for f in batch_schema.fields
                    if f.name != delete_col and f.name.lower() not in existing
                }
                if new_cols:
                    t.add_columns(new_cols)
                    t = DeltaTable.forPath(batch.sparkSession, path)
                    tgt_schema = t.schema()
                    tgt_cols = [f.name for f in tgt_schema.fields]
            # seq guard only when the target materializes the sequence
            # column (otherwise there is nothing to compare against)
            guard = None
            if sequence_col is not None and sequence_col in tgt_cols:
                # NULL-safe: a NULL sequence on either side would make
                # the bare >= evaluate to NULL, leaving the row
                # permanently un-updatable and silently dropping its
                # deletes — treat unknown ordering as "apply"
                sq = q(sequence_col)
                guard = f"coalesce(s.{sq} >= t.{sq}, true)"
            cond = " and ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
            m = t.alias("t").merge(batch.alias("s"), cond)
            if delete_col is not None:
                dl = f"coalesce(s.{q(delete_col)}, false)"
                m = m.whenMatchedDelete(f"{dl} and {guard}" if guard else dl)
                m = m.whenMatchedUpdate(
                    condition=guard,
                    set={c: f"s.{q(c)}" for c in data_cols if c not in keys},
                )
                m = m.whenNotMatchedInsert(
                    condition=f"not {dl}",
                    values={c: f"s.{q(c)}" for c in data_cols},
                )
            else:
                # updateAll/insertAll, spelled out over the batch's own
                # columns (never __rn__): a star clause would expand over
                # every column of the merge source
                star = star_assignments(batch_schema, tgt_schema, "s")
                m = m.whenMatchedUpdate(
                    condition=guard,
                    set=(
                        {c: f"s.{q(c)}" for c in data_cols if c not in keys}
                        if guard
                        else star
                    ),
                ).whenNotMatchedInsert(values=star)
            if full_snapshot:
                m = m.whenNotMatchedBySourceDelete()
            # the batch is unique on `keys` by construction (row_number()
            # = 1 or dropDuplicates) and the condition is key equality,
            # so one target row never matches two source rows: the
            # multiple-match guard could never fire, and skipping it
            # saves its aggregation shuffle every micro-batch
            m.execute(allow_multiple_matches=True)
        finally:
            batch_df.unpersist()

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_location
    )
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
