"""Interleaved-bit (Morton / Z-order) clustering.

Lexicographic ``repartitionByRange(c1, c2)`` tightens min/max stats for
``c1`` only — ``c2`` values stay scattered within every file, so
skipping on ``c2`` keeps reading everything. True Z-ORDER interleaves
the bits of per-column rank buckets, giving every clustered column
locality proportional to its bit share — the property Delta's
OPTIMIZE ZORDER BY provides via its RangePartitionId + interleave
expressions (public OSS delta, re-expressed here with DataFrame
built-ins).

Scale shape: bucket boundaries come from ``approxQuantile`` (a
distributed sketch, one pass, driver holds 256 doubles per column);
the bucket lookup and bit interleave are pure Catalyst expressions in
whole-stage codegen; the final layout is one ``repartitionByRange`` on
the morton column — exactly one shuffle, same as the naive cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jodie_spark.tables.merge import quote_ident

BITS_PER_COL = 8  # 256 rank buckets per column

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _as_double(col: Column, dtype: T.DataType) -> Column | None:
    if isinstance(dtype, _NUMERIC):
        return col.cast("double")
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return col.cast("timestamp").cast("double")
    return None  # not orderable-by-quantile (strings etc.)


def morton_column(df: DataFrame, cols: list[str]) -> Column | None:
    """Z-order key over ``cols``, or None when any column isn't
    numeric/date/timestamp (caller falls back to lexicographic
    clustering). One approxQuantile sketch pass; everything else is
    codegen expressions."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    doubles = []
    for c in cols:
        d = _as_double(F.col(quote_ident(c)), schema[c])
        if d is None:
            return None
        doubles.append((c, d))

    n_buckets = 1 << BITS_PER_COL
    probs = [i / n_buckets for i in range(1, n_buckets)]
    casted = df.select(*[d.alias(f"__z_{i}__") for i, (_, d) in enumerate(doubles)])
    quantiles = casted.approxQuantile(
        [f"__z_{i}__" for i in range(len(doubles))], probs, 0.01
    )

    morton = F.lit(0).cast("long")
    n = len(doubles)
    for ci, ((_, dcol), qs) in enumerate(zip(doubles, quantiles)):
        # bucket = #distinct quantile boundaries <= value: a literal-array
        # filter, fully in codegen; nulls sort first (bucket 0)
        uniq = sorted(set(qs))
        boundary_arr = F.array(*[F.lit(float(q)) for q in uniq])
        bucket = F.when(
            dcol.isNull(), F.lit(0)
        ).otherwise(F.size(F.filter(boundary_arr, lambda q: q <= dcol))).cast("long")
        # clamp into BITS_PER_COL bits (duplicate boundaries shrink range)
        bucket = F.least(bucket, F.lit(n_buckets - 1))
        for bit in range(BITS_PER_COL):
            morton = morton + F.shiftleft(
                F.shiftright(bucket, bit).bitwiseAND(F.lit(1)),
                bit * n + ci,
            )
    return morton
