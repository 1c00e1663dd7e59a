"""Delta identity columns (writer feature ``identityColumns``,
minWriterVersion 6).

Protocol storage (public Delta spec — the same field-metadata keys
delta-spark writes): per-column schema metadata

    ``delta.identity.start``                first value
    ``delta.identity.step``                 increment (non-zero)
    ``delta.identity.highWaterMark``        largest (by step sign) value
                                            handed out so far
    ``delta.identity.allowExplicitInsert``  GENERATED *BY DEFAULT* vs
                                            *ALWAYS* semantics

Semantics implemented (matching the Delta spec's guarantees — values
are **unique** and **monotone per commit**; gaps are allowed, though
this implementation happens to hand out a contiguous block per write):

- writes that OMIT the column get generated values starting one step
  past the high watermark; the commit's ``metaData`` action persists
  the advanced watermark;
- writes that PROVIDE the column require ``allowExplicitInsert``
  (GENERATED BY DEFAULT); explicit values never move the watermark
  (delta-spark parity — use a manual ALTER/SYNC for that).

Scale shape of value assignment: one bounded job collects per-Spark-
partition row counts (O(#partitions) driver memory), the exclusive
prefix offsets broadcast back, and each row's value is
``base + step · (offset[pid] + row_index_in_partition)`` where the row
index is the low 33 bits of ``monotonically_increasing_id`` — a pure
projection plus a tiny broadcast join: no window, no sort, no data
shuffle. The input is persisted across the two jobs so the partition
layout the counts saw is the layout the write sees.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jodie_spark.errors import JodieValidationError

IDENTITY_START_KEY = "delta.identity.start"
IDENTITY_STEP_KEY = "delta.identity.step"
IDENTITY_HWM_KEY = "delta.identity.highWaterMark"
IDENTITY_ALLOW_EXPLICIT_KEY = "delta.identity.allowExplicitInsert"

_IDENTITY_KEYS = (IDENTITY_START_KEY, IDENTITY_STEP_KEY)


def identity_columns_of(schema: T.StructType) -> dict[str, dict[str, Any]]:
    """column → {start, step, high_water_mark, allow_explicit} for every
    identity column declared in the schema's field metadata."""
    out: dict[str, dict[str, Any]] = {}
    for f in schema.fields:
        md = f.metadata or {}
        if all(k in md for k in _IDENTITY_KEYS):
            hwm = md.get(IDENTITY_HWM_KEY)
            out[f.name] = {
                "start": int(md[IDENTITY_START_KEY]),
                "step": int(md[IDENTITY_STEP_KEY]),
                "high_water_mark": None if hwm is None else int(hwm),
                "allow_explicit": bool(md.get(IDENTITY_ALLOW_EXPLICIT_KEY, False)),
            }
    return out


def identity_field_metadata(
    start: int, step: int, allow_explicit: bool, high_water_mark: int | None
) -> dict[str, Any]:
    if step == 0:
        raise JodieValidationError("identity column step must be non-zero")
    md: dict[str, Any] = {
        IDENTITY_START_KEY: int(start),
        IDENTITY_STEP_KEY: int(step),
        IDENTITY_ALLOW_EXPLICIT_KEY: bool(allow_explicit),
    }
    if high_water_mark is not None:
        md[IDENTITY_HWM_KEY] = int(high_water_mark)
    return md


def with_identity_metadata(
    schema: T.StructType, specs: dict[str, dict[str, Any]]
) -> T.StructType:
    """Return ``schema`` with identity metadata stamped onto the named
    fields (which must be integral — the spec restricts identity to
    ``long``/``integer``-typed columns; we store ``long``)."""
    fields = []
    for f in schema.fields:
        if f.name in specs:
            if not isinstance(f.dataType, (T.LongType, T.IntegerType)):
                raise JodieValidationError(
                    f"identity column {f.name!r} must be integer-typed, "
                    f"got {f.dataType.simpleString()}"
                )
            s = specs[f.name]
            fields.append(
                T.StructField(
                    f.name,
                    f.dataType,
                    f.nullable,
                    {
                        **(f.metadata or {}),
                        **identity_field_metadata(
                            s.get("start", 1),
                            s.get("step", 1),
                            s.get("allow_explicit", False),
                            s.get("high_water_mark"),
                        ),
                    },
                )
            )
        else:
            fields.append(f)
    return T.StructType(fields)


def next_identity_base(spec: dict[str, Any]) -> int:
    """First value the next generated block should use."""
    hwm = spec.get("high_water_mark")
    if hwm is None:
        return int(spec["start"])
    return int(hwm) + int(spec["step"])


def assign_identity_values(
    df: DataFrame, col_name: str, base: int, step: int
) -> tuple[DataFrame, int | None]:
    """Assign ``base, base+step, …`` to ``col_name`` across ``df``.

    Returns ``(df_with_column, new_high_water_mark)`` — the watermark is
    ``None`` when the input is empty. The returned DataFrame is built on
    a persisted copy of ``df`` (unpersisted by Spark's LRU later); the
    caller commits the watermark it's told, so the count job and the
    write job MUST see the same rows — hence the persist."""
    src = df.cache()
    counts = sorted(
        (r["pid"], r["n"])
        for r in src.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    total = sum(n for _, n in counts)
    if total == 0:
        return df.withColumn(col_name, F.lit(None).cast("long")), None

    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, "__pid__ int, __off__ long")

    # monotonically_increasing_id = (partitionId << 33) | rowInPartition,
    # so the within-partition row index comes out of the low 33 bits —
    # the assignment is a pure projection + tiny broadcast join, with no
    # window and no data shuffle
    mid = F.monotonically_increasing_id()
    assigned = (
        src.withColumn("__pid__", F.spark_partition_id())
        .withColumn("__idx__", mid.bitwiseAND(F.lit((1 << 33) - 1)))
        .join(F.broadcast(off_df), "__pid__")
        .withColumn(
            col_name,
            (
                F.lit(base)
                + F.lit(step) * (F.col("__off__") + F.col("__idx__"))
            ).cast("long"),
        )
        .drop("__pid__", "__idx__", "__off__")
    )
    return assigned, base + step * (total - 1)


def apply_identity_on_write(
    df: DataFrame, schema: T.StructType
) -> tuple[DataFrame, T.StructType | None]:
    """Run identity-column semantics for a write against ``schema``.

    Returns ``(df, updated_schema_or_None)`` — the schema comes back
    non-None when a watermark advanced and the commit must carry a
    ``metaData`` action with the new schemaString."""
    specs = identity_columns_of(schema)
    if not specs:
        return df, None
    new_specs: dict[str, dict[str, Any]] = {}
    for name, spec in specs.items():
        if name in df.columns:
            if not spec["allow_explicit"]:
                raise JodieValidationError(
                    f"providing values for GENERATED ALWAYS identity column "
                    f"{name!r} is not allowed (declare it with "
                    f"allow_explicit=True for GENERATED BY DEFAULT)"
                )
            continue  # explicit insert: values kept, watermark untouched
        base = next_identity_base(spec)
        df, hwm = assign_identity_values(df, name, base, int(spec["step"]))
        if hwm is not None:
            new_specs[name] = {**spec, "high_water_mark": hwm}
    if not new_specs:
        return df, None
    merged = {
        name: {
            "start": spec["start"],
            "step": spec["step"],
            "allow_explicit": spec["allow_explicit"],
            "high_water_mark": new_specs.get(name, spec)["high_water_mark"],
        }
        for name, spec in specs.items()
    }
    return df, with_identity_metadata(schema, merged)
