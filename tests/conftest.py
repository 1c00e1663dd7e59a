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

    from jodie_spark.tables.gateway import jvm_methods, session_key

    s = get_spark("jodie_tests", master="local[4]")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    # the first scan through a session wrapper asks its JVM session's
    # key once, and the first plan built on a gateway looks its JVM
    # methods up; do both here, so no pinned round-trip count depends
    # on which test ran first
    session_key(s)
    jvm_methods(s)
    yield s


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="jodie_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# the kinds of py4j command, as the gateway audit in SCALE.md counts them
PY4J_KINDS = ("release", "reflection", "seq", "call")


def py4j_commands(spark, fn) -> dict[str, int]:
    """py4j commands sent to the JVM while ``fn()`` runs, from every
    thread (a streaming query's foreachBatch callback too), counted on
    the gateway client the way perfbench's GatewayCounter counts them,
    by kind:

    - ``release``: py4j's object releases (``m``), which follow
      Python's garbage collector and free earlier work's objects at
      arbitrary points;
    - ``reflection``: class and member lookups (``r``);
    - ``seq``: building a Seq from a Python list (the ``ArrayList``
      constructor, its ``add`` calls, ``PythonUtils.toSeq``);
    - ``call``: every other call and constructor."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    lock = threading.Lock()
    counts = dict.fromkeys(PY4J_KINDS, 0)
    lists: set[str] = set()

    def kind(command: str) -> str:
        if command.startswith("m\n"):
            return "release"
        if command.startswith("r\n"):
            return "reflection"
        if command.startswith("i\njava.util.ArrayList\n"):
            return "seq"
        if command.startswith("c\n"):
            target, name = command.split("\n", 3)[1:3]
            if name == "toSeq" or (name == "add" and target in lists):
                return "seq"
        return "call"

    def counted(command, *args, **kwargs):
        answer = send(command, *args, **kwargs)
        with lock:
            k = kind(command)
            counts[k] += 1
            if command.startswith("i\njava.util.ArrayList\n"):
                lists.add(answer[2:])  # "yl<id>": a java.util.List
        return answer

    client.send_command = counted
    try:
        fn()
    finally:
        client.send_command = send
    return counts


def py4j_round_trips(spark, fn) -> int:
    """py4j commands sent to the JVM while ``fn()`` runs
    (:func:`py4j_commands`), object releases left out."""
    counts = py4j_commands(spark, fn)
    return sum(counts.values()) - counts["release"]


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
