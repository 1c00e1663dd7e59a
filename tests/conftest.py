import contextlib
import os
import shutil
import sys
import tempfile
import threading

import pytest

sys.path.insert(0, "/root/repo")


@pytest.fixture(scope="session")
def spark():
    from jodie_spark.session import get_spark

    from jodie_spark.tables.table import _session_key

    s = get_spark("jodie_tests", master="local[4]")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    # the first scan through a session wrapper asks its JVM session's
    # key once; ask it here, so no pinned round-trip count depends on
    # which test scanned first
    _session_key(s)
    yield s


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="jodie_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def py4j_round_trips(spark, fn) -> int:
    """py4j commands sent to the JVM while ``fn()`` runs, from every
    thread (a streaming query's foreachBatch callback too), counted on
    the gateway client the way perfbench's GatewayCounter counts them.
    Object-release commands (py4j's ``m``) are left out: they follow
    Python's garbage collector, which frees earlier work's objects at
    arbitrary points."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    lock = threading.Lock()
    n = 0

    def counted(command, *args, **kwargs):
        nonlocal n
        if not command.startswith("m"):
            with lock:
                n += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        fn()
    finally:
        client.send_command = send
    return n


def parquet_files(path) -> list[str]:
    """The parquet files under ``path``, relative to it, sorted."""
    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` starts, from the DAG scheduler's job ids."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(dag.nextJobId())
    fn()
    return int(dag.nextJobId()) - j0


def executed_plans(spark, fn) -> list[str]:
    """Physical-plan text of the SQL executions ``fn()`` ran, oldest
    first, from the session's SQL status store (AQE's final plan where
    AQE re-planned)."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc.listenerBus().waitUntilEmpty()
        got = store.executionsList()
        return {
            int(e.executionId()): e.physicalPlanDescription()
            for e in (got.apply(i) for i in range(got.size()))
        }

    before = set(executions())
    fn()
    return [p for i, p in sorted(executions().items()) if i not in before]


def sql_executions(spark, fn) -> int:
    """SQL executions ``fn()`` registers in the session's status store:
    one per action, and one per plan Spark builds to answer a question
    about a DataFrame without running it (its partition count, say)."""
    return len(executed_plans(spark, fn))


@contextlib.contextmanager
def session_conf(spark, key: str, value: str):
    """``spark``'s runtime conf ``key`` set to ``value`` inside the block,
    its earlier value (or its unset state) restored after."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def drive_stream_reader(reader, restart_from=None, available_now=False, triggers=3):
    """Drive a ``DataSourceStreamReader`` in the order Spark 4.1 calls it,
    without a query. Returns the rows of each micro-batch Spark would
    run (lists of dicts, read in-process) and the last end offset.

    A fresh query (``restart_from`` None) calls ``latestOffset``, then
    ``initialOffset``, then ``partitions(initial, latest)``. A restart
    from the checkpointed end offset ``C`` calls ``partitions(C, C)``,
    then ``latestOffset``. Under ``available_now`` that one
    ``latestOffset`` is the run's target; otherwise ``triggers``
    processing-time triggers follow, each a ``latestOffset`` and a
    micro-batch when the offset moved. A micro-batch ends with
    ``commit(end)``."""

    def batch(start, end):
        rows = [
            row
            for part in reader.partitions(start, end)
            for record_batch in reader.read(part)
            for row in record_batch.to_pylist()
        ]
        reader.commit(end)
        return rows

    if restart_from is None:
        latest = reader.latestOffset()
        start = reader.initialOffset()
    else:
        start = restart_from
        reader.partitions(start, start)
        latest = reader.latestOffset()
    batches = []
    for i in range(1 if available_now else 1 + triggers):
        if i:
            latest = reader.latestOffset()
        if latest != start:
            batches.append(batch(start, latest))
            start = latest
    return batches, start
