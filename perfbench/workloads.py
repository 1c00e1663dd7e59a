"""The benchmark's three workloads.

Each workload builds its starting tables from a seed (``setup``), warms
the engine (``warmup``), then runs one closed-loop *cycle* at a time
(``cycle``): a fixed mix of writes, reads and, for ``cdc_upsert``,
maintenance. Every read is checked against a Python model of the table
that the workload keeps in step with its own writes, and ``final_check``
compares the whole table with that model at the end.

The loop in ``run.py`` records each operation through a ``Recorder``.
Workloads import ``jodie_spark`` lazily, inside methods, so that the
traced run can wrap the engine's entry points before the table modules
are first imported.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class Recorder:
    """Per-run measurements of the foreground operations."""

    reads_ms: list[float] = field(default_factory=list)
    writes_ms: list[float] = field(default_factory=list)
    maint_ms: list[float] = field(default_factory=list)
    ops: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    spark_jobs: int = 0  # Spark jobs the loop ran
    job_ids: tuple[int, int] = (0, 0)  # [first, end) job id of the loop
    py4j_calls: int = 0  # gateway commands the loop sent
    steal_pct: float = 0.0  # CPU steal over the loop, a diagnostic

    def record(self, kind: str, ms: float, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if ok:
            self.ops += 1
            if kind == "read":
                self.reads_ms.append(ms)
            elif kind == "write":
                self.writes_ms.append(ms)
            else:
                self.maint_ms.append(ms)
        else:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(f"{kind}: {detail}")


def timed(fn, *args, **kwargs) -> tuple[float, Any]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return (time.perf_counter() - t0) * 1000.0, out


def zipf_keys(rng: np.random.Generator, n: int, perm: np.ndarray, s: float) -> np.ndarray:
    """``n`` distinct keys drawn Zipf-skewed over ``perm`` (rank r maps
    to key ``perm[r]``, so hot keys are spread over the key range)."""
    seen: dict[int, None] = {}
    while len(seen) < n:
        ranks = rng.zipf(s, 4 * n) - 1
        for r in ranks[ranks < len(perm)]:
            seen.setdefault(int(r))
            if len(seen) == n:
                break
    return perm[np.fromiter(seen, dtype=np.int64)]


class GatewayCounter:
    """Counts the commands the Python driver sends to the JVM over its
    py4j gateway: every Spark call from Python is one or more of them.
    Calls the benchmark makes for itself (waiting for a stream's progress
    event, re-planning scans in the traced run) run inside ``pause()``
    and are not counted, so the count is the engine's alone."""

    def __init__(self) -> None:
        self.calls = 0
        self._paused = threading.local()
        self._lock = threading.Lock()  # foreachBatch calls back on its own thread

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counted(*args, **kwargs):
            if not getattr(self._paused, "depth", 0):
                with self._lock:
                    self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted

    @contextlib.contextmanager
    def pause(self):
        st = self._paused
        st.depth = getattr(st, "depth", 0) + 1
        try:
            yield
        finally:
            st.depth -= 1


def null_span(_name: str) -> contextlib.nullcontext:
    """Span factory of an untraced loop."""
    return contextlib.nullcontext()


def rows_equal(got: list[tuple], want: list[tuple]) -> bool:
    return sorted(got) == sorted(want)


class _Base:
    name = ""
    sizes: dict[str, dict[str, Any]] = {}

    def __init__(self, spark, seed: int, loop_seconds: float, size: str = "full"):
        self.spark = spark
        self.seed = seed
        self.py4j = GatewayCounter()
        self.py4j.install(spark)
        self.cfg = self.sizes[size]
        # inputs are pre-built for the longest loop the run can make
        # (no operation is faster than ``min_op_s``)
        self.capacity = int(loop_seconds / self.cfg["min_op_s"]) + 20
        self.change_bytes = 0  # parquet bytes of the change rows applied in the loop
        self.loop_start_version: dict[str, int] = {}

    # measured loop bookkeeping

    def mark_loop_start(self) -> None:
        from jodie_spark.tables.log import DeltaLog

        self.change_bytes = 0
        self.loop_start_version = {p: DeltaLog(p).latest_version() for p in self.written_tables()}

    def added_bytes(self) -> int:
        """Sum of ``add.size`` over every commit since ``mark_loop_start``."""
        from jodie_spark.tables.log import DeltaLog

        total = 0
        for p, v0 in self.loop_start_version.items():
            log = DeltaLog(p)
            for v in range(v0 + 1, log.latest_version() + 1):
                for a in log.read_actions(v):
                    if a.get("add"):
                        total += int(a["add"].get("size") or 0)
        return total

    def written_tables(self) -> list[str]:
        raise NotImplementedError

    def _take_batch(self) -> int:
        """Index of the next pre-built change batch."""
        i = self.next_batch
        if i >= len(self.batches):
            raise RuntimeError(f"{self.name} ran out of pre-built change batches")
        self.next_batch += 1
        return i

    def _table_matches_model(self) -> bool:
        """The whole (k, seq, v) table equals the model, row for row."""
        from jodie_spark.tables.table import DeltaTable

        tbl = DeltaTable.forPath(self.spark, self.path).toDF().toArrow()
        got = sorted(zip(tbl["k"].to_pylist(), tbl["seq"].to_pylist(), tbl["v"].to_pylist()))
        return got == sorted((k, s, v) for k, (s, v) in self.model.items())

    def close(self) -> None:
        pass


def maintain(spark, path: str, rec: "Recorder", span) -> None:
    """Compaction plus a vacuum dry run, recorded as one operation."""
    from jodie_spark.tables.table import DeltaTable

    def run() -> None:
        t = DeltaTable.forPath(spark, path)
        t.optimize().executeCompaction()
        t.vacuum(dry_run=True)

    with span("op"):
        try:
            rec.record("maintenance", timed(run)[0], True)
        except Exception as e:
            rec.record("maintenance", 0.0, False, repr(e)[:200])


# ---------------------------------------------------------------------------
# cdc_upsert: fixed-size Zipf change batches merged into a clustered table
# ---------------------------------------------------------------------------


class CdcUpsert(_Base):
    """Merge of Zipf-skewed change batches (delete or update matched,
    insert unmatched) into a key-clustered target, with a compaction and
    a vacuum dry run after every ``merges_per_cycle`` merges. Probe and
    copy-on-write rewrite dominate; the log stays small."""

    name = "cdc_upsert"
    sizes = {
        "full": dict(rows=50_000, files=20, batch=500, min_op_s=0.3,
                     merges_per_cycle=5, reads_per_merge=1, zipf=1.2, delete_frac=0.2),
        "tiny": dict(rows=2_000, files=4, batch=50, min_op_s=0.3,
                     merges_per_cycle=2, reads_per_merge=1, zipf=1.2, delete_frac=0.2),
    }

    def setup(self, root: str) -> None:
        from jodie_spark.tables.table import write_delta

        c = self.cfg
        rng = np.random.default_rng(self.seed)
        n = c["rows"]
        self.path = os.path.join(root, "target")
        df = self.spark.range(0, n, numPartitions=c["files"]).selectExpr(
            "id as k", "cast(0 as bigint) as seq", "concat('r', cast(id as string)) as v"
        )
        write_delta(df, self.path)
        self.model = {k: (0, f"r{k}") for k in range(n)}
        # change batches: distinct keys per batch over 1.1x the key range
        # (keys >= rows are inserts), written once as parquet
        perm = rng.permutation(n + n // 10)
        chg = os.path.join(root, "changes")
        os.makedirs(chg)
        self.batches = []
        for i in range(self.capacity):
            keys = zipf_keys(rng, c["batch"], perm, c["zipf"])
            dels = rng.random(len(keys)) < c["delete_frac"]
            fp = os.path.join(chg, f"b{i:05d}.parquet")
            pq.write_table(
                pa.table({
                    "k": pa.array(keys, pa.int64()),
                    "seq": pa.array(np.full(len(keys), i + 1), pa.int64()),
                    "v": pa.array([f"b{i}"] * len(keys)),
                    "del": pa.array(dels),
                }),
                fp,
            )
            self.batches.append((fp, keys, dels, os.path.getsize(fp)))
        self.next_batch = 0
        self.rng = np.random.default_rng(self.seed + 1)

    def written_tables(self) -> list[str]:
        return [self.path]

    def _merge(self, i: int) -> None:
        from jodie_spark.tables.table import DeltaTable

        fp = self.batches[i][0]
        src = self.spark.read.parquet(fp)
        (
            DeltaTable.forPath(self.spark, self.path).alias("t")
            .merge(src.alias("s"), "t.k = s.k")
            .whenMatchedDelete("s.del")
            .whenMatchedUpdate(set={"seq": "s.seq", "v": "s.v"})
            .whenNotMatchedInsert(
                condition="not s.del", values={"k": "s.k", "seq": "s.seq", "v": "s.v"}
            )
            .execute()
        )

    def _apply_model(self, i: int) -> None:
        _, keys, dels, _ = self.batches[i]
        for k, d in zip(keys.tolist(), dels.tolist()):
            if d:
                self.model.pop(k, None)
            else:
                self.model[k] = (i + 1, f"b{i}")

    def _read(self, lo: int, width: int) -> tuple[list[tuple], list[tuple]]:
        from jodie_spark.tables.table import DeltaTable

        rows = (
            DeltaTable.forPath(self.spark, self.path).toDF()
            .filter(f"k >= {lo} and k < {lo + width}").collect()
        )
        got = [(r.k, r.seq, r.v) for r in rows]
        want = [(k, *self.model[k]) for k in range(lo, lo + width) if k in self.model]
        return got, want

    def warmup(self) -> None:
        # the cold first merge (JIT, first planner and writer jobs) is
        # several times a warm one: run two and a read, unmeasured
        for _ in range(2):
            i = self._take_batch()
            self._merge(i)
            self._apply_model(i)
            got, want = self._read(int(self.batches[i][1][0]), 20)
            if not rows_equal(got, want):
                raise RuntimeError("cdc_upsert warm-up read mismatch")

    def cycle(self, rec: Recorder, span) -> None:
        c = self.cfg
        for _ in range(c["merges_per_cycle"]):
            i = self._take_batch()
            with span("op"):
                try:
                    ms, _ = timed(self._merge, i)
                    rec.record("write", ms, True)
                except Exception as e:  # a failed op is counted, the loop goes on
                    rec.record("write", 0.0, False, repr(e)[:200])
                    continue
            self._apply_model(i)
            self.change_bytes += self.batches[i][3]
            keys = self.batches[i][1]
            for _ in range(c["reads_per_merge"]):
                lo = int(keys[self.rng.integers(len(keys))])
                with span("op"):
                    try:
                        ms, (got, want) = timed(self._read, lo, 20)
                        ok = rows_equal(got, want)
                        rec.record("read", ms, ok, "" if ok else f"rows differ at k>={lo}")
                    except Exception as e:
                        rec.record("read", 0.0, False, repr(e)[:200])
        maintain(self.spark, self.path, rec, span)

    def final_check(self) -> bool:
        return self._table_matches_model()


# ---------------------------------------------------------------------------
# stream_cdc: one streaming merge query, one small change commit per batch
# ---------------------------------------------------------------------------


class StreamCdc(_Base):
    """A ``write_stream_merge_to_delta`` query (keys, sequence and delete
    columns) reading a ``jodie_delta`` source with ``maxFilesPerTrigger=1``.
    For each micro-batch the client commits one pre-written change file
    to the source, waits for the batch, then reads back changed keys; a
    cycle is ``batches_per_cycle`` batches followed by a compaction and
    a vacuum dry run of the target. Per-batch fixed cost (py4j round
    trips, Spark jobs, snapshot replays, the commit) dominates these
    small batches."""

    name = "stream_cdc"
    sizes = {
        "full": dict(rows=20_000, files=8, batch=500, min_op_s=0.5, batches_per_cycle=4,
                     reads_per_batch=2, zipf=1.1, delete_frac=0.2),
        "tiny": dict(rows=1_000, files=2, batch=20, min_op_s=0.5, batches_per_cycle=2,
                     reads_per_batch=1, zipf=1.1, delete_frac=0.2),
    }

    SCHEMA = pa.schema([("k", pa.int64()), ("seq", pa.int64()), ("v", pa.string()), ("del", pa.bool_())])

    def setup(self, root: str) -> None:
        from pyspark.sql import types as T

        from jodie_spark.tables.table import write_delta

        c = self.cfg
        rng = np.random.default_rng(self.seed)
        n = c["rows"]
        self.path = os.path.join(root, "target")
        self.src = os.path.join(root, "source")
        self.ckpt = os.path.join(root, "checkpoint")
        write_delta(
            self.spark.range(0, n, numPartitions=c["files"]).selectExpr(
                "id as k", "cast(0 as bigint) as seq", "concat('r', cast(id as string)) as v"
            ),
            self.path,
        )
        self.model = {k: (0, f"r{k}") for k in range(n)}
        schema = T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("del", T.BooleanType()),
        ])
        write_delta(self.spark.createDataFrame([], schema), self.src, known_empty=True)
        # change files live in the source table's directory and are
        # committed one per cycle; keys repeat within a batch (the sink
        # keeps the highest seq per key)
        perm = rng.permutation(n + n // 10)
        self.batches = []
        seq = 0
        for i in range(self.capacity):
            ranks = np.minimum(rng.zipf(c["zipf"], c["batch"]) - 1, len(perm) - 1)
            keys = perm[ranks]
            seqs = np.arange(seq + 1, seq + 1 + len(keys), dtype=np.int64)
            seq += len(keys)
            dels = rng.random(len(keys)) < c["delete_frac"]
            rel = f"chg-{i:05d}.parquet"
            fp = os.path.join(self.src, rel)
            pq.write_table(
                pa.table(
                    [pa.array(keys, pa.int64()), pa.array(seqs), pa.array([f"s{s}" for s in seqs.tolist()]),
                     pa.array(dels)],
                    schema=self.SCHEMA,
                ),
                fp,
            )
            self.batches.append((rel, keys, seqs, dels, os.path.getsize(fp)))
        self.next_batch = 0
        self.query = None
        self.rng = np.random.default_rng(self.seed + 1)

    def written_tables(self) -> list[str]:
        return [self.path]

    def _commit_source(self, i: int) -> None:
        from jodie_spark.tables.log import DeltaLog

        rel, keys, _, _, size = self.batches[i]
        log = DeltaLog(self.src)
        log.commit(
            log.latest_version(),
            [{"add": {"path": rel, "partitionValues": {}, "size": size,
                      "modificationTime": int(time.time() * 1000), "dataChange": True}}],
            "WRITE",
        )

    def _apply_model(self, i: int) -> None:
        _, keys, seqs, dels, _ = self.batches[i]
        for k, s, d in zip(keys.tolist(), seqs.tolist(), dels.tolist()):
            if d:
                self.model.pop(k, None)
            else:
                self.model[k] = (s, f"s{s}")

    def _progress(self, batch_id: int) -> dict:
        """The finished progress event of ``batch_id`` (it is posted just
        after the batch commits, so poll briefly)."""
        deadline = time.monotonic() + 30
        with self.py4j.pause():  # how often this polls depends on timing
            while time.monotonic() < deadline:
                for p in reversed(self.query.recentProgress):
                    if p.get("batchId") == batch_id and p.get("numInputRows", 0) > 0:
                        return p
                time.sleep(0.005)
        raise RuntimeError(f"no progress event for batch {batch_id}")

    def _read(self, keys: list[int]) -> tuple[list[tuple], list[tuple]]:
        from jodie_spark.tables.table import DeltaTable

        ks = sorted(set(keys))
        rows = (
            DeltaTable.forPath(self.spark, self.path).toDF()
            .filter(f"k in ({', '.join(map(str, ks))})").collect()
        )
        got = [(r.k, r.seq, r.v) for r in rows]
        want = [(k, *self.model[k]) for k in ks if k in self.model]
        return got, want

    def mark_loop_start(self) -> None:
        super().mark_loop_start()
        self.sink_ms: list[float] = []
        self.trigger_ms: list[float] = []

    def _batch(self) -> tuple[int, dict]:
        """Commit the next change file to the source and wait for the
        micro-batch that applies it; returns (batch index, progress)."""
        i = self._take_batch()
        self._commit_source(i)
        self.query.processAllAvailable()
        self.batch_id += 1
        return i, self._progress(self.batch_id)

    def warmup(self) -> None:
        from jodie_spark.streaming.delta_sink import write_stream_merge_to_delta

        # The first micro-batch of a jodie_delta stream is not bounded by
        # maxFilesPerTrigger: it takes every commit present at start, and
        # the batches after it then re-serve those commits one at a time.
        # Starting with a single committed change keeps one batch per
        # commit. That first (cold) batch and one more are excluded.
        i = self._take_batch()
        self._commit_source(i)
        t0 = time.perf_counter()
        stream = (
            self.spark.readStream.format("jodie_delta")
            .option("maxFilesPerTrigger", 1)
            .option("startingVersion", 1)
            .load(self.src)
        )
        self.query = write_stream_merge_to_delta(
            stream, self.path, self.ckpt, keys=["k"], sequence_col="seq", delete_col="del",
            query_name="perfbench_stream_cdc",
        )
        self.query.processAllAvailable()
        self.start_ms = (time.perf_counter() - t0) * 1000.0
        self.batch_id = 0
        self._progress(0)
        self._apply_model(i)
        i, _ = self._batch()
        self._apply_model(i)
        got, want = self._read(self.batches[i][1][:20].tolist())
        if not rows_equal(got, want):
            raise RuntimeError("stream_cdc warm-up read mismatch")
        # the first compaction is cold as well
        maintain(self.spark, self.path, Recorder(), null_span)

    def cycle(self, rec: Recorder, span) -> None:
        c = self.cfg
        for _ in range(c["batches_per_cycle"]):
            with span("op"):
                try:
                    i, p = self._batch()
                except Exception as e:
                    rec.record("write", 0.0, False, repr(e)[:200])
                    return
                d = p["durationMs"]
                rec.record("write", float(d["triggerExecution"]), True)
                self.trigger_ms.append(float(d["triggerExecution"]))
                self.sink_ms.append(float(d.get("addBatch", 0)))
            self._apply_model(i)
            self.change_bytes += self.batches[i][4]
            keys = self.batches[i][1]
            for _ in range(c["reads_per_batch"]):
                pick = self.rng.choice(keys, size=min(20, len(keys)), replace=False).tolist()
                with span("op"):
                    try:
                        ms, (got, want) = timed(self._read, pick)
                        ok = rows_equal(got, want)
                        rec.record("read", ms, ok, "" if ok else "rows differ")
                    except Exception as e:
                        rec.record("read", 0.0, False, repr(e)[:200])
        maintain(self.spark, self.path, rec, span)

    def stream_layers(self) -> dict[str, float]:
        """Sink time and the trigger's overhead around it, per batch
        since the last reset, and the query's start-up time."""
        n = max(len(self.trigger_ms), 1)
        return {
            "sink.batch_ms": sum(self.sink_ms) / n,
            "stream.overhead_ms": (sum(self.trigger_ms) - sum(self.sink_ms)) / n,
            "stream.start_ms": self.start_ms,
        }

    def final_check(self) -> bool:
        self.close()
        return self._table_matches_model()

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query.awaitTermination(60)
            self.query = None


# ---------------------------------------------------------------------------
# skipping_read: selective reads over a log of many fabricated adds
# ---------------------------------------------------------------------------


class SkippingRead(_Base):
    """A few real files plus many fabricated adds in a columnar-built
    checkpoint. Every fabricated add carries stats outside the query
    domain and a path that does not exist, so a read or DML that plans
    one fails. Reads go through ``spark.read.format("jodie_delta")`` with
    a pushed filter; small deletes and updates on real keys grow the JSON
    tail (the checkpoint interval is set past the run) and run the
    columnar planner tier. Log size, not data size, sets latency."""

    name = "skipping_read"
    on_read = None  # the traced run sets a hook that re-plans each read on the driver
    sizes = {
        "full": dict(real_rows=4_000, real_files=8, fake_adds=100_000, min_op_s=0.3,
                     reads_per_write=1, point_frac=0.5, range_width=40),
        "tiny": dict(real_rows=200, real_files=2, fake_adds=1_000, min_op_s=0.3,
                     reads_per_write=1, point_frac=0.5, range_width=10),
    }
    FAKE_LO = 1_000_000_000

    def setup(self, root: str) -> None:
        from jodie_spark.tables.table import write_delta

        c = self.cfg
        n = c["real_rows"]
        self.path = os.path.join(root, "t")
        write_delta(
            self.spark.range(0, n, numPartitions=c["real_files"]).selectExpr(
                "id", "concat('r', cast(id as string)) as v"
            ),
            self.path,
            options={"delta.checkpointInterval": "1000000"},
        )
        self._fabricate(c["fake_adds"])
        self.model = {k: f"r{k}" for k in range(n)}
        # the op sequence is fixed by the seed; simulating it on a copy
        # of the model gives each DML's changed rows, written once as
        # parquet (the write-amplification denominator)
        rng = np.random.default_rng(self.seed)
        sim = dict(self.model)
        chg = os.path.join(root, "changes")
        os.makedirs(chg)
        self.plan: list[tuple] = []
        per_cycle = c["reads_per_write"] + 1
        for j in range(self.capacity):
            if j % per_cycle == per_cycle - 1:
                # writes alternate: point delete, then 5-key range update
                kind = "delete" if (j // per_cycle) % 2 == 0 else "update"
                live = np.fromiter(sim, dtype=np.int64)
                if kind == "delete":
                    k = int(live[rng.integers(len(live))])
                    cond = f"id = {k}"
                    changed = [(k, sim.pop(k))]
                else:
                    lo = int(live[rng.integers(len(live))])
                    cond = f"id >= {lo} and id < {lo + 5}"
                    changed = [(k, f"u{j}") for k in range(lo, lo + 5) if k in sim]
                    sim.update(changed)
                fp = os.path.join(chg, f"d{j:05d}.parquet")
                pq.write_table(
                    pa.table({"id": pa.array([k for k, _ in changed], pa.int64()),
                              "v": pa.array([v for _, v in changed])}),
                    fp,
                )
                self.plan.append((kind, cond, j, os.path.getsize(fp), [k for k, _ in changed]))
            else:
                if rng.random() < c["point_frac"]:
                    k = int(rng.integers(n))
                    self.plan.append(("read", f"id = {k}", k, k + 1))
                else:
                    lo = int(rng.integers(n))
                    self.plan.append(("read", f"id >= {lo} and id < {lo + c['range_width']}",
                                      lo, lo + c["range_width"]))
        self.next_op = 0

    def _fabricate(self, n_fake: int) -> None:
        """Checkpoint at version 1 = the real table's state plus
        ``n_fake`` adds built column by column with pyarrow against the
        engine's own checkpoint schema; commit 1 carries only commitInfo.
        Unlike the soak-test fixture there is no stats-less add, which
        a filtered ``jodie_delta`` read would plan and fail to open."""
        import json

        from jodie_spark.tables.log import DeltaLog, checkpoint_file_name, commit_file_name

        log_dir = os.path.join(self.path, "_delta_log")
        DeltaLog(self.path).write_checkpoint(spark=False)
        cp0 = os.path.join(log_dir, checkpoint_file_name(0))
        base = pq.read_table(cp0)
        os.remove(cp0)
        schema = base.schema
        add_type = schema.field("add").type
        lo = np.arange(n_fake, dtype=np.int64) * 10 + self.FAKE_LO
        stats = [
            '{"numRecords":10,"minValues":{"id":%d,"v":"x"},'
            '"maxValues":{"id":%d,"v":"x"},"nullCount":{"id":0,"v":0}}' % (a, a + 9)
            for a in lo.tolist()
        ]
        cols = {
            "path": pa.array([f"fake/part-{i:07d}.parquet" for i in range(n_fake)]),
            "size": pa.array(np.full(n_fake, 1000, np.int64)),
            "modificationTime": pa.array(np.zeros(n_fake, np.int64)),
            "dataChange": pa.array(np.ones(n_fake, bool)),
            "stats": pa.array(stats),
            "partitionValues": pa.array([{}] * n_fake, add_type.field("partitionValues").type),
        }
        children = [
            cols[f.name].cast(f.type) if f.name in cols else pa.nulls(n_fake, f.type)
            for f in add_type
        ]
        add_arr = pa.StructArray.from_arrays(children, fields=list(add_type))
        fake = pa.Table.from_arrays(
            [add_arr if f.name == "add" else pa.nulls(n_fake, f.type) for f in schema],
            schema=schema,
        )
        big = pa.concat_tables([base, fake])
        pq.write_table(big, os.path.join(log_dir, checkpoint_file_name(1)))
        with open(os.path.join(log_dir, commit_file_name(1)), "w") as fh:
            fh.write(json.dumps({"commitInfo": {"timestamp": 0, "operation": "WRITE",
                                                "operationParameters": {},
                                                "operationMetrics": {}}}) + "\n")
        with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
            fh.write(json.dumps({"version": 1, "size": big.num_rows}))

    def written_tables(self) -> list[str]:
        return [self.path]

    def _read(self, cond: str, lo: int, hi: int) -> tuple[list[tuple], list[tuple]]:
        rows = self.spark.read.format("jodie_delta").load(self.path).filter(cond).collect()
        got = [(r.id, r.v) for r in rows]
        want = [(k, self.model[k]) for k in range(lo, hi) if k in self.model]
        return got, want

    def _dml(self, kind: str, cond: str, j: int) -> None:
        from jodie_spark.tables.table import DeltaTable

        t = DeltaTable.forPath(self.spark, self.path)
        if kind == "delete":
            t.delete(cond)
        else:
            t.update(cond, {"v": f"'u{j}'"})

    def _apply_model(self, kind: str, j: int, keys: list[int]) -> None:
        for k in keys:
            if kind == "delete":
                del self.model[k]
            else:
                self.model[k] = f"u{j}"

    def warmup(self) -> None:
        # cold first reads start the Python data source workers; the
        # cold first DML rewrites one real file with unchanged values, so
        # the model and the seeded op sequence stay valid
        from jodie_spark.tables.table import DeltaTable

        for cond, lo, hi in (("id = 1", 1, 2), ("id >= 10 and id < 20", 10, 20)):
            got, want = self._read(cond, lo, hi)
            if not rows_equal(got, want):
                raise RuntimeError("skipping_read warm-up read mismatch")
        for _ in range(4):
            DeltaTable.forPath(self.spark, self.path).update("id = 0", {"v": "v"})

    def cycle(self, rec: Recorder, span) -> None:
        """``reads_per_write`` reads, then one delete or update."""
        for _ in range(self.cfg["reads_per_write"] + 1):
            if self.next_op >= len(self.plan):
                raise RuntimeError("skipping_read ran out of planned operations")
            op = self.plan[self.next_op]
            self.next_op += 1
            with span("op"):
                if op[0] == "read":
                    _, cond, lo, hi = op
                    try:
                        ms, (got, want) = timed(self._read, cond, lo, hi)
                        ok = rows_equal(got, want)
                        rec.record("read", ms, ok, "" if ok else f"rows differ for {cond}")
                    except Exception as e:
                        rec.record("read", 0.0, False, repr(e)[:200])
                else:
                    kind, cond, j, nbytes, keys = op
                    try:
                        ms, _ = timed(self._dml, kind, cond, j)
                        rec.record("write", ms, True)
                    except Exception as e:
                        rec.record("write", 0.0, False, repr(e)[:200])
                        continue
                    self._apply_model(kind, j, keys)
                    self.change_bytes += nbytes
            if op[0] == "read" and self.on_read is not None:
                self.on_read(self.path, op[1])

    def final_check(self) -> bool:
        rows = (
            self.spark.read.format("jodie_delta").load(self.path)
            .filter(f"id < {self.FAKE_LO}").collect()
        )
        return sorted((r.id, r.v) for r in rows) == sorted(self.model.items())


WORKLOADS = {w.name: w for w in (CdcUpsert, StreamCdc, SkippingRead)}
