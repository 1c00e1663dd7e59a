"""Type 2 slowly-changing-dimension upsert.

Parity: reference Type2Scd.scala:8-81. The staged-union + single-merge
algorithm: updates that change a current row are staged twice — once
with a NULL mergeKey (never matches ⇒ always inserts the new version)
and once keyed by the primary key (matches ⇒ closes the old version).
SCD time columns are type-generic (timestamp, date, or int version —
Type2ScdSpec.scala:172-263).

Scale: one join (updates × current rows) + one merge. The merge source
is bounded by 2×|updates|; target file rewriting touches only files
containing affected keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from jodie_spark.errors import JodieValidationError
from jodie_spark.tables.gateway import select_expr
from jodie_spark.tables.table import DeltaTable


def type2_upsert(
    table: DeltaTable,
    updates_df: DataFrame,
    primary_key: str,
    attr_col_names: Sequence[str],
) -> None:
    """Conventional column names ``is_current``/``effective_time``/
    ``end_time``. Parity: Type2Scd.scala:8-23."""
    type2_generic_upsert(
        table,
        updates_df,
        primary_key,
        attr_col_names,
        "is_current",
        "effective_time",
        "end_time",
    )


def type2_generic_upsert(
    base_table: DeltaTable,
    updates_df: DataFrame,
    primary_key: str,
    attr_col_names: Sequence[str],
    is_current_col_name: str,
    effective_time_col_name: str,
    end_time_col_name: str,
) -> None:
    """Caller-named SCD columns. Parity: Type2Scd.scala:25-81."""
    # column names from the snapshot schema — constructing the read
    # DataFrame just to list columns costs py4j round-trips per call
    # (this runs once per micro-batch in the streaming SCD2 sink)
    base_col_names = [f.name for f in base_table.schema().fields]
    required_base = [primary_key, *attr_col_names, is_current_col_name,
                     effective_time_col_name, end_time_col_name]
    if sorted(base_col_names) != sorted(required_base):
        raise JodieValidationError(
            f"The base table has these columns '{base_col_names}', "
            f"but these columns are required '{required_base}'"
        )
    updates_col_names = list(updates_df.columns)
    required_updates = [primary_key, *attr_col_names, effective_time_col_name]
    if sorted(updates_col_names) != sorted(required_updates):
        raise JodieValidationError(
            f"The updates DataFrame has these columns '{updates_col_names}', "
            f"but these columns are required '{required_updates}'"
        )

    updates_attrs = " OR ".join(f"updates.{a} <> base.{a}" for a in attr_col_names)
    staged_attrs = " OR ".join(f"staged_updates.{a} <> base.{a}" for a in attr_col_names)

    changed = (
        updates_df.alias("updates")
        .join(base_table.toDF().alias("base"), primary_key)
        .where(f"base.{is_current_col_name} = true AND ({updates_attrs})")
    )
    staged_part_1 = select_expr(changed, "NULL as mergeKey", "updates.*")
    staged_part_2 = select_expr(updates_df, f"{primary_key} as mergeKey", "*")
    staged_updates = staged_part_1.union(staged_part_2)

    insert_values = {
        primary_key: f"staged_updates.{primary_key}",
        **{a: f"staged_updates.{a}" for a in attr_col_names},
        is_current_col_name: "true",
        effective_time_col_name: f"staged_updates.{effective_time_col_name}",
        end_time_col_name: "null",
    }
    (
        base_table.alias("base")
        .merge(staged_updates.alias("staged_updates"), f"base.{primary_key} = mergeKey")
        .whenMatchedUpdate(
            f"base.{is_current_col_name} = true AND ({staged_attrs})",
            {
                is_current_col_name: "false",
                end_time_col_name: f"staged_updates.{effective_time_col_name}",
            },
        )
        .whenNotMatchedInsert(values=insert_values)
        .execute()
    )
