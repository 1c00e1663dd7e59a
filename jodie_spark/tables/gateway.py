"""The one module that reaches into PySpark's py4j handles.

Every piece of a plan crosses the py4j boundary, and PySpark looks a
JVM class or static method up by reflection each time it names one:
``selectExpr`` and ``observe`` build their Seq through
``PythonUtils.toSeq`` (two reflection commands, ``r u`` for the class
and ``r m`` for the member, before the call), ``F.expr`` and ``F.lit``
find ``functions`` the same way, an ``Observation`` its class and its
read ``PythonSQLUtils.toPyRow``. On a streaming merge sink those
lookups were a third of a micro-batch's gateway commands.

This module looks the methods plan building needs up once per py4j
gateway (:class:`_Jvm`), keyed by the gateway object, so a relaunched
JVM gets fresh ones, and builds the same JVM objects PySpark builds
with the call alone: :func:`select_expr`, :func:`expr`, :func:`lit`,
:func:`function`, :func:`observe` and its read :func:`observed`,
:func:`group_agg`, :func:`parquet_reader`/:func:`load` and
:func:`apply_in_pandas`. Plans come out as PySpark's own calls build
them. A list of strings (a projection's expressions, a scan's paths)
goes as one string split into a ``String[]`` on the JVM side, one call
where a Python list costs one per element.

It is also the only module that touches ``_jdf``, ``_jvm`` or
``_jsparkSession``: plan statistics (:func:`size_estimate`), partition
counts (:func:`num_partitions`) and the JVM session's identity
(:func:`session_key`), which PySpark has no public handle on. New
hot-path plan code calls these helpers: a bare ``F.expr``,
``selectExpr`` or ``Observation`` costs two reflection round trips."""

from __future__ import annotations

import threading
import weakref
from typing import Any, Callable

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T


# joins the strings of one JVM String[] (:func:`_strings`): SQL text and
# paths do not hold a NUL character; a list with one goes element by
# element
_SEP = "\x00"

# the ``functions`` members the package's plans call
_FUNCTIONS = (
    "call_function", "expr", "input_file_name", "lit", "monotonically_increasing_id",
    "struct",
)


class _Jvm:
    """The JVM methods plan building calls, looked up on one gateway."""

    def __init__(self, gateway):
        jvm = gateway.jvm
        utils = getattr(jvm, "org.apache.spark.api.python.PythonUtils")
        self.to_seq = utils.toSeq
        self.broadcast_threshold = utils.getBroadcastThreshold
        functions = getattr(jvm, "org.apache.spark.sql.functions")
        self.functions = {name: getattr(functions, name) for name in _FUNCTIONS}
        self.observation = getattr(jvm, "org.apache.spark.sql.Observation")
        self.to_py_row = getattr(
            jvm, "org.apache.spark.sql.api.python.PythonSQLUtils"
        ).toPyRow
        self.python_function = getattr(
            jvm, "org.apache.spark.api.python.SimplePythonFunction"
        )
        self.python_udf = getattr(
            jvm, "org.apache.spark.sql.execution.python.UserDefinedPythonFunction"
        )
        self.empty_seq = self.to_seq([])
        self.splitter = getattr(jvm, "java.util.regex.Pattern").compile(_SEP)


_METHODS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_LOCK = threading.Lock()


def jvm_methods(spark: SparkSession | None = None) -> _Jvm:
    """The :class:`_Jvm` of ``spark``'s gateway (the active
    SparkContext's when None), looked up on first use."""
    sc = spark.sparkContext if spark is not None else SparkContext._active_spark_context
    gateway = sc._gateway
    methods = _METHODS.get(gateway)
    if methods is None:
        with _LOCK:
            methods = _METHODS.get(gateway)
            if methods is None:
                methods = _METHODS[gateway] = _Jvm(gateway)
    return methods


def session_key(spark: SparkSession) -> str:
    """The ``sessionUUID`` of the JVM session ``spark`` wraps, asked once
    per wrapper. Caches of JVM-side objects key on it, not on the Python
    wrapper: foreachBatch hands every micro-batch a new wrapper of the
    query's one session, and ``spark.newSession()`` is a new session."""
    key = spark.__dict__.get("_jodie_session_key")
    if key is None:
        key = spark.__dict__["_jodie_session_key"] = str(
            spark._jsparkSession.sessionUUID()
        )
    return key


def size_estimate(df: DataFrame) -> int:
    """Spark's size estimate for ``df``: its optimized plan's
    ``sizeInBytes``, the number the static broadcast rule compares with
    the threshold. A persisted plan reports its cached bytes once the
    cache is filled."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def num_partitions(df: DataFrame) -> int:
    """The partition count of ``df``'s plan, computed without running
    it (do not call it on a plan with an exchange: adaptive execution
    runs the plan's stages to learn it). ``df.rdd`` would first wrap
    the plan in a Python-pickling RDD, two more round trips."""
    return int(df._jdf.rdd().getNumPartitions())


def _seq(m: _Jvm, items: list) -> Any:
    """``items`` (JVM objects or strings) as a Seq: a Python list
    reaches the JVM as a new list, one ``add`` per element, then
    ``toSeq``."""
    return m.to_seq(items) if items else m.empty_seq


def _strings(m: _Jvm, items: list[str]) -> Any:
    """``items`` for a JVM ``String...`` parameter: joined, and split
    again on the JVM side, they are one call, a ``String[]``."""
    if items and not any(_SEP in i for i in items):
        return m.splitter.split(_SEP.join(items), -1)
    return _seq(m, items)


def select_expr(df: DataFrame, *exprs: str) -> DataFrame:
    """``df.selectExpr(*exprs)``."""
    m = jvm_methods(df.sparkSession)
    return DataFrame(df._jdf.selectExpr(_strings(m, list(exprs))), df.sparkSession)


def _java(m: _Jvm, arg: Any) -> Any:
    if isinstance(arg, Column):
        return arg._jc
    if isinstance(arg, list):
        return _seq(m, [_java(m, a) for a in arg])
    return arg


def function(name: str, *args: Any) -> Column:
    """``org.apache.spark.sql.functions.<name>(*args)`` as a Column, for
    a ``name`` in ``_FUNCTIONS``: a Column argument travels as its JVM
    column, a list as a Seq."""
    m = jvm_methods()
    return Column(m.functions[name](*[_java(m, a) for a in args]))


def expr(text: str) -> Column:
    """``F.expr(text)``."""
    return function("expr", text)


def lit(value: bool | int | float | str | None) -> Column:
    """``F.lit(value)`` of a Python scalar."""
    return function("lit", value)


# the one struct metric every :func:`observe` observation carries
_METRICS = "__metrics__"


class Observation:
    """An observation :func:`observe` attached; read it with
    :func:`observed` once its action ran."""

    __slots__ = ("jvm", "jo")

    def __init__(self, jvm: _Jvm, jo):
        self.jvm = jvm
        self.jo = jo

    @property
    def get(self) -> dict[str, Any]:
        """The reported metrics row as a dict, read as PySpark's
        ``Observation.get`` reads it; raises ``Py4JJavaError`` when the
        observation reported none."""
        from pyspark.serializers import CPickleSerializer

        row = CPickleSerializer().loads(self.jvm.to_py_row(self.jo.getRow()))
        return row.asDict()


def observe(df: DataFrame, metrics: dict[str, str]) -> tuple[DataFrame, Observation]:
    """``df`` observing ``metrics`` (name → SQL aggregate text), and the
    observation. The metrics travel as ONE struct column, ``struct(<agg>
    AS <name>, …)``: one ``expr`` and the empty varargs Seq, where a
    Column per metric cost a round trip and a Seq element each. Names
    are quoted here."""
    m = jvm_methods(df.sparkSession)
    body = ", ".join(
        f"{agg} AS `{name.replace('`', '``')}`" for name, agg in metrics.items()
    )
    jo = m.observation()
    jdf = df._jdf.observe(
        jo, m.functions["expr"](f"struct({body}) AS {_METRICS}"), m.empty_seq
    )
    return DataFrame(jdf, df.sparkSession), Observation(m, jo)


def observed(obs: Observation) -> dict[str, Any] | None:
    """The metrics an :func:`observe` observation reported, or None when
    it reported none: AQE's empty-relation propagation drops an
    observation that sits under a shuffle, with the subtree it
    removes."""
    try:
        got = obs.get
    except Py4JJavaError:  # no metrics row: the observation was dropped
        return None
    row = got.get(_METRICS)
    return None if row is None else row.asDict()


def group_agg(df: DataFrame, keys: list[str], *aggs: str) -> DataFrame:
    """``df.groupBy(*keys).agg(*map(F.expr, aggs))``."""
    m = jvm_methods(df.sparkSession)
    expr_ = m.functions["expr"]
    grouped = df._jdf.groupBy(keys[0], _strings(m, keys[1:]))
    jdf = grouped.agg(expr_(aggs[0]), _seq(m, [expr_(a) for a in aggs[1:]]))
    return DataFrame(jdf, df.sparkSession)


def parquet_reader(spark: SparkSession, base: str | None, schema: T.StructType | None):
    """A JVM parquet reader of ``spark``'s session, with ``basePath``
    ``base`` and ``schema`` set when given; :func:`load` scans with it.
    PySpark's ``DataFrameReader.schema`` looks the active session up
    by reflection first."""
    jspark = spark._jsparkSession
    reader = jspark.read().format("parquet")
    if base is not None:
        reader = reader.option("basePath", base)
    if schema is not None:
        reader = reader.schema(jspark.parseDataType(schema.json()))
    return reader


def load(spark: SparkSession, reader, paths: list[str]) -> DataFrame:
    """The scan of ``paths`` by a :func:`parquet_reader` of ``spark``'s
    session: no paths is an empty scan, one path loads a string, more a
    ``String[]`` (:func:`_strings`)."""
    if not paths:
        jdf = reader.load()
    elif len(paths) == 1:
        jdf = reader.load(paths[0])
    else:
        jdf = reader.load(_strings(jvm_methods(spark), paths))
    return DataFrame(jdf, spark)


def apply_in_pandas(
    df: DataFrame, key: str, func: Callable, schema: T.StructType
) -> DataFrame:
    """``df.groupBy(key).applyInPandas(func, schema)``, its pandas UDF
    built as PySpark's ``UserDefinedFunction`` builds one (the pickled
    ``(func, schema)`` command, the broadcasts it references, the
    context's Python environment), with no lookups: PySpark's path asks
    the active session, parses nothing it needs to and looks up five
    JVM classes per call. Spark's ``spark.python.profile`` profilers do
    not see this UDF."""
    from pyspark.serializers import CloudPickleSerializer
    from pyspark.util import PythonEvalType

    spark = df.sparkSession
    sc = spark.sparkContext
    m = jvm_methods(spark)
    ser = CloudPickleSerializer()
    command = ser.dumps((func, schema))
    if len(command) > m.broadcast_threshold(sc._jsc):
        command = ser.dumps(sc.broadcast(command))
    broadcasts = [b._jbroadcast for b in sc._pickled_broadcast_vars]
    sc._pickled_broadcast_vars.clear()
    wrapped = m.python_function(
        bytearray(command), sc.environment, sc._python_includes, sc.pythonExec,
        sc.pythonVer, broadcasts, sc._javaAccumulator,
    )
    judf = m.python_udf(
        func.__name__, wrapped, spark._jsparkSession.parseDataType(schema.json()),
        PythonEvalType.SQL_GROUPED_MAP_PANDAS_UDF, True,
    )
    jdf = df._jdf
    column = judf.apply(_seq(m, [jdf.apply(c) for c in df.columns]))
    grouped = jdf.groupBy(key, m.empty_seq)
    return DataFrame(grouped.flatMapGroupsInPandas(column), spark)
