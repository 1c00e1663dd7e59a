"""MERGE INTO: copy-on-write or merge-on-read merge over the native Delta log.

Parity targets (call shapes this builder must accept):
- reference Type2Scd.scala:63-80 — ``whenMatched(cond).updateExpr(map)``
  + ``whenNotMatched().insertExpr(map)``;
- reference DeltaHelpers.scala:261-267, 301-319 — ``whenMatched().delete()``;
- reference DeltaHelpers.scala:442-452 — ``whenNotMatched().insertAll()``.

Execution model (the same two-pass shape Delta's MergeIntoCommand uses,
re-expressed as DataFrame ops so Catalyst plans the joins):

1. **Find touched files** — prune target files with the target-only
   conjuncts of the merge condition (stats/partition skipping, no data
   read), then join target→source on the condition and OBSERVE the set
   of file paths (``collect_set``, bounded by #files, never #rows) that
   contain at least one match, in one noop action — no shuffle just to
   deduplicate file names. With the multiple-match check on, the same
   action counts matches per target row (one aggregation). The one-task
   rewrite below runs no probe.
2. **Rewrite** only the touched files, applying the first matching WHEN
   clause per row (Delta clause order semantics); untouched files are
   never read or rewritten. The rewrite has three shapes:

   - **Full outer join** of the touched files with the source. Spark
     has no broadcast full outer join, so this shuffles every row of
     the touched files (and the source).
   - **Broadcast source** — for a merge with no multiple-match check to
     run (``allow_multiple_matches=True``, the streaming merge sink, a
     sole unconditional delete), no by-source clause and inserts that
     read the source only, when Spark's static rule broadcasts the
     persisted source (its plan's ``sizeInBytes`` is at most
     ``spark.sql.autoBroadcastJoinThreshold``; the probe has filled the
     cache, so the size is real). The source is tagged with ``__sid__``
     before it is persisted; the probe is the inner join and also
     observes the matched ``__sid__`` set. The rewrite is touched files
     LEFT OUTER JOIN the broadcast source — the update, delete and copy
     rows, no target shuffle, each file's row order kept — unioned with
     the source rows whose ``__sid__`` is not in that set (one SQL IN
     list; above ``_MAX_INSERT_FILTER_IDS`` ids the merge takes the
     full outer join). The output is coalesced to the target scan's
     partition count, so a one-file target and its inserts stay one
     file. The union goes through the same staging and lowering text.
   - **One task** — when skipping leaves one candidate no larger than
     ``spark.sql.files.openCostInBytes`` (``one_small_candidate``, the
     rule DELETE/UPDATE use) and Spark's static estimate of the source
     is at most ``spark.sql.autoBroadcastJoinThreshold``, the touched
     set is that file or nothing. There is no probe and no cache: the
     candidate FULL OUTER JOIN the source, each side coalesced to one
     partition, is a sort-merge join with no exchange and no broadcast,
     so join, staging, lowering and write run as one job of one task.
     The write's observation counts the target rows the merge touches,
     the source rows (numbered 0…n-1 above the source's coalesce, so
     the highest number counts each row once), and with the
     multiple-match check on, the target rows matched more than once (a
     window over a target row id, coalesced to one partition too). A
     refusal or a miss deletes the written files; a miss then commits
     what the probe path commits when nothing is touched, the inserts
     alone rewritten over an empty target. The output is sorted by the
     join key.

Merge-on-read (``execute(deletion_vectors=True)``) joins the source
with the candidates' coordinate scan, the same
``_read_candidates(coords=True)`` DELETE and UPDATE use; its DV-marks
action writes the bitmaps (``DeltaTable._write_dvs_for``) and only the
updated and inserted rows are written as files. A ``mode=id`` table
takes copy-on-write instead (its scan's child session never completes
the source-row observation; see ``execute``).

Row counts are ``Observation`` s on actions that run anyway: the
rewrite's write (merge-on-read: its data-file write, and its DV-marks
action for the multiple-match check). Extra jobs remain in two places:
on ``mode=id`` tables the source row count is an eager ``count()`` of
the source (see ``execute``), and on row-tracking tables the scan that
reads row ids (the rewrite, or merge-on-read's coordinate scan) learns
its file URIs in one job of its own (the lineage layer of
``read_files_df``); a scan of no files runs none. The probe never reads
row ids, so it costs what it costs on any table. Both write modes
commit the same ``operationParameters`` and ``operationMetrics`` keys
(``_commit``).
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jodie_spark.errors import JodieValidationError
from jodie_spark.tables.gateway import (
    Observation,
    expr,
    function,
    group_agg,
    lit,
    num_partitions,
    observe,
    observed,
    select_expr,
    size_estimate,
)
from jodie_spark.tables.log import remove_action
from jodie_spark.tables.pruning import split_conjuncts, _referenced_names

if TYPE_CHECKING:
    from jodie_spark.tables.table import DeltaTable


# matched source-row ids above which the broadcast-source rewrite falls
# back to the full outer join: its insert filter is one SQL IN list,
# whose parse and plan cost grows with the list (SCALE.md)
_MAX_INSERT_FILTER_IDS = 10_000

# per-row actions the rewrite pass counts, and their observation labels
_COUNTS = (
    ("update", "updated"),
    ("delete", "deleted"),
    ("copy", "copied"),
    ("insert", "inserted"),
)
_PLAIN_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def quote_ident(name: str) -> str:
    """Backtick-quoted SQL identifier; a backtick inside the name doubles
    (the Spark parser's escape rule)."""
    return "`" + name.replace("`", "``") + "`"


def type_ddl(dt) -> str:
    """SQL type text that parses back to ``dt``: nested struct field
    names are backtick-quoted unless they are plain identifiers —
    ``simpleString()`` never quotes them, so ``struct<va l:bigint>``
    would not parse."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return "struct<" + ",".join(
            (f.name if _PLAIN_IDENT.match(f.name) else quote_ident(f.name))
            + ":" + type_ddl(f.dataType)
            for f in dt.fields
        ) + ">"
    if isinstance(dt, T.ArrayType):
        return f"array<{type_ddl(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{type_ddl(dt.keyType)},{type_ddl(dt.valueType)}>"
    return dt.simpleString()


def _frag(sql: str) -> str:
    """Embed a user SQL fragment (condition or assignment) in generated
    text: parenthesised, with a newline so a trailing ``-- comment``
    ends before the generated text resumes."""
    return f"({sql}\n)"


def _str_lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _align_sql(expr: str, src_type, dst_type, depth: int = 0) -> str:
    """SQL text projecting ``expr`` (of ``src_type``) onto a (possibly
    wider) ``dst_type`` by FIELD NAME, recursively: struct fields match
    by name (missing ones become typed NULLs), leaves cast. Spark's
    struct-to-struct cast is POSITIONAL, so a source ``struct<b, a>``
    squeezed into a target ``struct<a, b>`` would silently swap values —
    merges must never do that. A NULL source struct stays NULL."""
    from pyspark.sql import types as T

    if src_type == dst_type:
        return expr
    if isinstance(dst_type, T.StructType) and isinstance(src_type, T.StructType):
        by_name = {f.name: f for f in src_type.fields}
        parts = []
        for f in dst_type.fields:
            sf = by_name.get(f.name)
            val = (
                _align_sql(
                    f"{expr}.{quote_ident(f.name)}", sf.dataType, f.dataType, depth
                )
                if sf is not None
                else f"CAST(NULL AS {type_ddl(f.dataType)})"
            )
            parts.append(f"{_str_lit(f.name)}, {val}")
        return (
            f"CASE WHEN {expr} IS NULL THEN NULL"
            f" ELSE named_struct({', '.join(parts)}) END"
        )
    if isinstance(dst_type, T.ArrayType) and isinstance(src_type, T.ArrayType):
        e = f"__e{depth}"
        inner = _align_sql(e, src_type.elementType, dst_type.elementType, depth + 1)
        return f"transform({expr}, {e} -> {inner})"
    if isinstance(dst_type, T.MapType) and isinstance(src_type, T.MapType):
        v = f"__v{depth}"
        inner = _align_sql(v, src_type.valueType, dst_type.valueType, depth + 1)
        return (
            f"map_from_arrays(CAST(map_keys({expr}) AS "
            f"array<{type_ddl(dst_type.keyType)}>), "
            f"transform(map_values({expr}), {v} -> {inner}))"
        )
    return f"CAST({expr} AS {type_ddl(dst_type)})"


def star_assignments(source_schema, schema, source: str) -> dict[str, str]:
    """``updateAll``/``insertAll`` spelled out (delta-spark star
    semantics): every field of ``schema`` that ``source_schema`` names,
    assigned the source struct field ``source`` (SQL text) holds.
    Structs align by FIELD NAME, recursively (:func:`_align_sql`), never
    through Spark's positional struct cast. A target field the source
    lacks is not assigned (an update keeps it, an insert writes NULL),
    and a source field the target lacks is ignored."""
    src_types = {f.name: f.dataType for f in source_schema.fields}
    return {
        f.name: _align_sql(
            f"{source}.{quote_ident(f.name)}", src_types[f.name], f.dataType
        )
        for f in schema.fields
        if f.name in src_types
    }


def lower_assignments(
    schema, branches: list[tuple[str, dict[str, Any]]], keep: str | None = ""
) -> tuple[dict[str, Column], list[str]]:
    """The one assignment lowering, for MERGE and UPDATE: SQL text
    selecting every field of ``schema`` as ``CAST(CASE WHEN <branch>
    THEN <value> … ELSE <kept> END AS <ddl>) AS <name>``. ``branches``
    are ``(branch_sql, assignments)`` pairs whose conditions are
    mutually exclusive, so WHEN order is free; an assignment value is
    SQL text or a Column. The kept value is the field qualified by
    ``keep`` (``""`` unqualified), or NULL when ``keep`` is None.

    A Column value travels in a hidden column, ``if(<its branch>,
    <Column>, NULL)``, which the caller adds before selecting the text:
    it is evaluated only on its own branch's rows (under ANSI mode it
    may raise on others). Returns (hidden columns, field texts)."""
    hidden: dict[str, Column] = {}
    fields = []
    for fld in schema.fields:
        q = quote_ident(fld.name)
        ddl = type_ddl(fld.dataType)
        whens = []
        for branch, assignments in branches:
            if fld.name not in assignments:
                continue
            v = assignments[fld.name]
            if isinstance(v, Column):
                h = f"__col{len(hidden)}__"
                hidden[h] = function(
                    "call_function", "if", [expr(branch), v, lit(None)]
                )
                v = h
            else:
                v = _frag(v)
            whens.append(f" WHEN {branch} THEN CAST({v} AS {ddl})")
        kept = "NULL" if keep is None else f"{keep}{q}"
        case = f"CASE{''.join(whens)} ELSE {kept} END" if whens else kept
        fields.append(f"CAST({case} AS {ddl}) AS {q}")
    return hidden, fields


def resolve_assignment_keys(
    assignments: dict[str, Any], columns: list[str], what: str
) -> dict[str, Any]:
    """Map assignment keys onto target column names the way Spark's
    default resolver does (case-insensitively, exact match first). A key
    that names no target column raises — dropping it silently would
    write the row without the assignment."""
    exact = set(columns)
    folded: dict[str, str] = {}
    for c in columns:
        folded.setdefault(c.lower(), c)
    out: dict[str, Any] = {}
    unknown = []
    for key, v in assignments.items():
        name = key if key in exact else folded.get(key.lower())
        if name is None:
            unknown.append(key)
        elif name in out:
            raise JodieValidationError(f"{what} assigns column {name!r} twice")
        else:
            out[name] = v
    if unknown:
        raise JodieValidationError(
            f"{what} assigns {unknown}, which name no target column "
            f"(target columns: {columns})"
        )
    return out


def _multiple_matches_error():
    """The refusal of a merge in which one target row matched more than
    one source row."""
    from jodie_spark.errors import MergeMultipleMatchesError

    return MergeMultipleMatchesError(
        "MERGE: one target row matched multiple source rows while its "
        "file must be rewritten; the result would be nondeterministic "
        "(or would duplicate the copied target row). Deduplicate the "
        "source on the merge key, or pass allow_multiple_matches=True."
    )


def _observed(ob: Observation, keys: list[str]) -> dict[str, int]:
    """The ``keys`` of an :func:`~jodie_spark.tables.gateway.observe`
    observation, zero when Catalyst's empty-relation propagation
    optimized the observed subtree away (e.g. empty source)."""
    got = observed(ob) or {}
    return {k: int(got.get(k) or 0) for k in keys}


def _source_rows(obs: Observation, source: DataFrame) -> int:
    """``numSourceRows``: the source's observation, else a count of the
    source (over its cache when the merge cached it). A probe whose
    join comes out empty lets AQE fold the source scan away, and the
    observation with it, which used to read as 0 source rows."""
    got = observed(obs)
    return int(got["numSourceRows"]) if got is not None else source.count()


# spark.sql.defaultSizeInBytes' default: the size Spark estimates for a
# plan leaf it has no statistics for (an RDD-backed DataFrame, say)
_NO_SIZE_ESTIMATE = 2**63 - 1


_BYTE_UNITS = {
    "": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50
}


def conf_bytes(conf, key: str) -> int:
    """A byte-size conf of a session's ``RuntimeConfig`` in bytes, parsed
    the way Spark parses one: ``10485760b``, ``10m``, ``10MB``, ``-1``."""
    text = conf.get(key).strip().lower()
    sign, digits, unit = re.fullmatch(r"(-?)(\d+)([a-z]?)b?", text).groups()
    return (-1 if sign else 1) * int(digits) * _BYTE_UNITS[unit]


def one_small_candidate(conf, candidates: list[dict[str, Any]]) -> bool:
    """The single-file rule of copy-on-write DML and MERGE: one candidate
    add no larger than ``spark.sql.files.openCostInBytes`` (Spark's
    price of opening a file). Its touched set is that file or nothing,
    so the rewrite runs without a probe and its own observation tells
    which; a miss wastes one rewrite of the file, which the bound caps.
    ``conf`` is the session's ``RuntimeConfig``."""
    return (
        len(candidates) == 1
        and candidates[0].get("size") is not None
        and int(candidates[0]["size"])
        <= conf_bytes(conf, "spark.sql.files.openCostInBytes")
    )


def _assign_identities(result: DataFrame, schema, id_generate, keep_cols):
    """In-merge identity generation: output rows whose identity column
    lands NULL (inserts no clause provided it for) get fresh values from
    the watermark, exactly the append-path arithmetic; carried target
    rows always have values (ALWAYS semantics), so the null-split touches
    inserts only. Returns (result, schema carrying the new high-water
    marks, or None when no value was assigned)."""
    from jodie_spark.tables.identity import (
        assign_identity_values,
        identity_columns_of,
        next_identity_base,
        with_identity_metadata,
    )

    new_specs = dict(identity_columns_of(schema))
    changed = False
    for name, spec in id_generate.items():
        need = result.filter(F.col(name).isNull()).drop(name)
        keep = result.filter(F.col(name).isNotNull())
        assigned, hwm = assign_identity_values(
            need, name, next_identity_base(spec), int(spec["step"])
        )
        # as many partitions as before the split, so a small merge's
        # kept and generated rows fill one file, not two: ``need`` is
        # cached and filled now, so counting its partitions runs no job
        result = (
            keep.unionByName(assigned).select(*keep_cols).coalesce(num_partitions(need))
        )
        if hwm is not None:
            new_specs[name] = {**spec, "high_water_mark": hwm}
            changed = True
    if not changed:
        return result, None
    return result, with_identity_metadata(
        schema,
        {
            n: {
                "start": s["start"],
                "step": s["step"],
                "allow_explicit": s["allow_explicit"],
                "high_water_mark": s.get("high_water_mark"),
            }
            for n, s in new_specs.items()
        },
    )


def _merge_struct_types(tgt_dt, src_dt, allow_widening: bool = True):
    """Recursive schema union for ``withSchemaEvolution``: source-only
    struct fields append (nullable) after the target's, target fields
    keep their metadata (mapping ids / physical names travel
    untouched). A leaf where the source type is a SAFE widening of the
    target's (int→long, float→double, ... — the typeWidening chain)
    adopts the source type — but ONLY when ``allow_widening`` (the
    ``delta.enableTypeWidening`` table property; delta-spark parity:
    schema evolution never silently widens without the opt-in, which
    would force a minReaderVersion=3 protocol upgrade on external
    readers). With widening off — and for unsafe conflicts always —
    the TARGET type wins (the assignment cast narrows or rejects the
    source). Returns (merged_type, changed)."""
    from pyspark.sql import types as T

    from jodie_spark.tables.table import _can_widen

    if isinstance(tgt_dt, T.ArrayType) and isinstance(src_dt, T.ArrayType):
        merged, ch = _merge_struct_types(
            tgt_dt.elementType, src_dt.elementType, allow_widening
        )
        return T.ArrayType(merged, tgt_dt.containsNull), ch
    if isinstance(tgt_dt, T.MapType) and isinstance(src_dt, T.MapType):
        merged, ch = _merge_struct_types(
            tgt_dt.valueType, src_dt.valueType, allow_widening
        )
        return T.MapType(tgt_dt.keyType, merged, tgt_dt.valueContainsNull), ch
    if not (isinstance(tgt_dt, T.StructType) and isinstance(src_dt, T.StructType)):
        if allow_widening and _can_widen(tgt_dt, src_dt):
            return src_dt, True
        return tgt_dt, False
    src_by_name = {f.name: f for f in src_dt.fields}
    out = []
    changed = False
    for f in tgt_dt.fields:
        sf = src_by_name.get(f.name)
        if sf is not None:
            merged, ch = _merge_struct_types(f.dataType, sf.dataType, allow_widening)
            changed = changed or ch
            out.append(T.StructField(f.name, merged, f.nullable, f.metadata))
        else:
            out.append(f)
    tgt_names = {f.name for f in tgt_dt.fields}
    for sf in src_dt.fields:
        if sf.name not in tgt_names:
            out.append(T.StructField(sf.name, sf.dataType, True))
            changed = True
    return T.StructType(out), changed


def _annotate_type_changes(old_schema, new_schema, table_version):
    """Post-evolution pass: every leaf whose type differs between the
    pre- and post-evolution schema gets a ``delta.typeChanges`` entry
    on the field metadata of its nearest struct field (the typeWidening
    feature's audit record, same shape the append path writes). A
    widened array element or map value records on its enclosing field
    with a ``fieldPath`` (``element``, ``value``, ``element.element``,
    ...), as PROTOCOL.md "Type Change Metadata" lays out. Returns
    (annotated_schema, any_widened)."""
    from pyspark.sql import types as T

    widened = False

    def walk_type(old_dt, new_dt, path, changes):
        """Recurse containers so a struct field added INSIDE an
        array/map element is evolution, not a bogus 'array→array'
        widening record."""
        nonlocal widened
        if isinstance(old_dt, T.StructType) and isinstance(new_dt, T.StructType):
            old_by = {f.name: f for f in old_dt.fields}
            return T.StructType(
                [
                    walk_field(old_by[f.name], f) if f.name in old_by else f
                    for f in new_dt.fields
                ]
            )
        if isinstance(old_dt, T.ArrayType) and isinstance(new_dt, T.ArrayType):
            return T.ArrayType(
                walk_type(
                    old_dt.elementType, new_dt.elementType, path + ["element"], changes
                ),
                new_dt.containsNull,
            )
        if isinstance(old_dt, T.MapType) and isinstance(new_dt, T.MapType):
            return T.MapType(
                new_dt.keyType,
                walk_type(old_dt.valueType, new_dt.valueType, path + ["value"], changes),
                new_dt.valueContainsNull,
            )
        if old_dt != new_dt:
            widened = True
            change = {
                "fromType": old_dt.typeName(),
                "toType": new_dt.typeName(),
                "tableVersion": table_version,
            }
            if path:
                change["fieldPath"] = ".".join(path)
            changes.append(change)
        return new_dt

    def walk_field(old_f, new_f):
        changes: list[dict] = []
        dt = walk_type(old_f.dataType, new_f.dataType, [], changes)
        md = dict(new_f.metadata or {})
        if changes:
            md["delta.typeChanges"] = list(md.get("delta.typeChanges") or []) + changes
        return T.StructField(new_f.name, dt, new_f.nullable, md)

    old_by = {f.name: f for f in old_schema.fields}
    fields = [
        walk_field(old_by[f.name], f) if f.name in old_by else f
        for f in new_schema.fields
    ]
    return T.StructType(fields), widened


def _strip_alias_prefix(conj: str, talias: str) -> str:
    """Remove ``<alias>.`` from identifier tokens only — a blind
    ``str.replace`` would also rewrite occurrences inside string
    literals (``target.url = 'https://target.example/'``), corrupting
    the pruning predicate. Quoted regions (with doubled-quote escapes)
    are left untouched."""
    parts = re.split(r"('(?:[^']|'')*')", conj)
    pat = re.compile(rf"\b{re.escape(talias)}\.(?=[A-Za-z_])")
    return "".join(
        p if p.startswith("'") else pat.sub("", p) for p in parts
    )



@dataclass
class _Clause:
    kind: str  # 'update' | 'delete' | 'insert'
    condition: str | None = None
    assignments: dict[str, Any] = field(default_factory=dict)  # col -> str|Column
    star: bool = False  # updateAll / insertAll


class DeltaMergeBuilder:
    """Fluent merge builder: delta-spark Python API names plus snake_case
    aliases. Clauses apply in declaration order; the first clause whose
    condition holds wins for a given row — Delta semantics.

    Like delta-spark, ``execute()`` raises ``MergeMultipleMatchesError``
    when one target row matches multiple source rows under a matched
    clause (nondeterministic update/delete); pass
    ``allow_multiple_matches=True`` to opt into one-output-row-per-match
    behavior instead."""

    def __init__(self, table: "DeltaTable", source: DataFrame, condition: str):
        self.table = table
        self.source = source
        self.condition = condition
        self._matched: list[_Clause] = []
        self._not_matched: list[_Clause] = []
        self._not_matched_by_source: list[_Clause] = []
        self._schema_evolution = False

    def withSchemaEvolution(self) -> "DeltaMergeBuilder":
        """delta-spark parity: updateAll/insertAll propagate source
        columns absent from the target into the table schema (old rows
        read as NULL, same as Delta's mergeSchema semantics)."""
        self._schema_evolution = True
        return self

    with_schema_evolution = withSchemaEvolution

    # -- clause registration -------------------------------------------------

    def whenMatchedUpdate(
        self, condition: str | None = None, set: dict[str, Any] | None = None  # noqa: A002
    ) -> "DeltaMergeBuilder":
        if not set:
            raise JodieValidationError("whenMatchedUpdate requires a non-empty set map")
        self._matched.append(_Clause("update", condition, dict(set)))
        return self

    def whenMatchedUpdateAll(self, condition: str | None = None) -> "DeltaMergeBuilder":
        self._matched.append(_Clause("update", condition, {}, star=True))
        return self

    def whenMatchedDelete(self, condition: str | None = None) -> "DeltaMergeBuilder":
        self._matched.append(_Clause("delete", condition))
        return self

    def whenNotMatchedInsert(
        self, condition: str | None = None, values: dict[str, Any] | None = None
    ) -> "DeltaMergeBuilder":
        if not values:
            raise JodieValidationError("whenNotMatchedInsert requires a non-empty values map")
        self._not_matched.append(_Clause("insert", condition, dict(values)))
        return self

    def whenNotMatchedInsertAll(self, condition: str | None = None) -> "DeltaMergeBuilder":
        self._not_matched.append(_Clause("insert", condition, {}, star=True))
        return self

    def whenNotMatchedBySourceUpdate(
        self, condition: str | None = None, set: dict[str, Any] | None = None
    ) -> "DeltaMergeBuilder":
        """Delta 2.3+ clause: TARGET rows with NO matching source row
        get the ``set`` assignments applied (conditions/assignments may
        reference target columns only — there is no source row). The
        full-sync pattern's 'mark rows missing from the feed'."""
        if not set:
            raise JodieValidationError(
                "whenNotMatchedBySourceUpdate requires a non-empty set map"
            )
        self._not_matched_by_source.append(_Clause("update", condition, dict(set)))
        return self

    def whenNotMatchedBySourceDelete(
        self, condition: str | None = None
    ) -> "DeltaMergeBuilder":
        """Delta 2.3+ clause: delete TARGET rows with no matching
        source row — the full-sync pattern's 'remove rows absent from
        the feed'."""
        self._not_matched_by_source.append(_Clause("delete", condition))
        return self

    when_matched_update = whenMatchedUpdate
    when_matched_update_all = whenMatchedUpdateAll
    when_matched_delete = whenMatchedDelete
    when_not_matched_insert = whenNotMatchedInsert
    when_not_matched_insert_all = whenNotMatchedInsertAll
    when_not_matched_by_source_update = whenNotMatchedBySourceUpdate
    when_not_matched_by_source_delete = whenNotMatchedBySourceDelete

    # -- execution -----------------------------------------------------------

    def _target_only_condition(self, talias: str, columns: list[str]) -> str | None:
        """Conjuncts of the merge condition that reference only target
        columns (``talias.col`` or bare col), rewritten unqualified so the
        stats pruner can evaluate them. Enables partition-qualified merges
        to skip files (reference README.md:575-611 motivation)."""
        kept: list[str] = []
        prefix = f"{talias}."
        for conj in split_conjuncts(self.condition):
            refs = _referenced_names(conj)
            if not refs:
                continue
            ok = True
            for r in refs:
                if r.startswith(prefix):
                    if r[len(prefix):] not in columns or "." in r[len(prefix):]:
                        ok = False
                        break
                elif "." in r or r not in columns:
                    ok = False
                    break
            if ok:
                kept.append(_strip_alias_prefix(conj, talias))
        return " and ".join(kept) if kept else None

    def _check_identity_clauses(
        self, schema, cdf_enabled: bool = False
    ) -> dict[str, dict]:
        """Delta identity-column merge semantics: UPDATE clauses may
        never assign an identity column; INSERT clauses may never
        provide GENERATED ALWAYS values. Returns the identity specs to
        GENERATE for — insert-output rows whose identity column lands
        NULL get fresh values from the watermark (same arithmetic as
        the append path). Generation composes with CDF only on the
        rewrite path delta uses, so CDF + generation is refused."""
        from jodie_spark.tables.identity import identity_columns_of

        ids = identity_columns_of(schema)
        if not ids:
            return {}
        src_cols = set(self.source.columns)
        for c in self._matched + self._not_matched_by_source:
            if c.kind != "update":
                continue
            touched = set(ids) & (src_cols if c.star else set(c.assignments))
            if touched:
                raise JodieValidationError(
                    f"MERGE cannot update identity column(s) {sorted(touched)}"
                )
        to_generate: dict[str, dict] = {}
        for c in self._not_matched:
            provided = set(ids) & (src_cols if c.star else set(c.assignments))
            for name in sorted(provided):
                if not ids[name]["allow_explicit"]:
                    raise JodieValidationError(
                        f"MERGE cannot insert explicit values into GENERATED "
                        f"ALWAYS identity column {name!r}"
                    )
            for name in set(ids) - provided:
                to_generate[name] = ids[name]
        if to_generate and cdf_enabled:
            raise JodieValidationError(
                "in-merge identity generation on a CDF-enabled table is not "
                "supported (change rows would not carry the generated ids); "
                "provide the identity values explicitly or append via "
                "write_delta"
            )
        return to_generate

    def _insert_only_fastpath_safe(self, talias: str) -> bool:
        """The anti-join fast path drops the target side entirely, so
        it is only legal when no not-matched clause references target
        columns (rare but allowed by MERGE semantics — they evaluate
        NULL on the slow path). Column-object assignments can't be
        inspected, so they conservatively fall back too. Quoted strings
        can false-positive the alias scan — that only costs the
        optimization, never correctness."""
        pat = re.compile(rf"\b{re.escape(talias)}\.")
        for cl in self._not_matched:
            if cl.condition and pat.search(str(cl.condition)):
                return False
            for v in cl.assignments.values():
                if isinstance(v, Column) or pat.search(str(v)):
                    return False
        return True

    def _resolve_assignments(self, columns: list[str]) -> None:
        for cl in self._matched + self._not_matched + self._not_matched_by_source:
            if cl.assignments:
                cl.assignments = resolve_assignment_keys(
                    cl.assignments, columns, f"MERGE {cl.kind} clause"
                )

    def _mark_source(self, cached: DataFrame) -> DataFrame:
        """The source side of the merge joins: ``cached`` plus ``__src__``,
        NOT NULL exactly on joined rows that have a source side. Star
        clauses read their values from it, so for them it is the struct
        of the source row — ``self.source["*"]`` resolves against the
        source plan, so a column name the target shares is never
        ambiguous; otherwise it is TRUE. Added after the cache, so the
        persisted source holds the source columns only."""
        if any(cl.star for cl in self._matched + self._not_matched):
            return cached.withColumn("__src__", function("struct", [self.source["*"]]))
        return cached.withColumn("__src__", lit(True))

    def _stage_actions(
        self, joined: DataFrame, hidden: dict[str, Column], has_target: bool = True
    ) -> DataFrame:
        """Attach first-matching-clause indexes and the per-row action
        ('update'/'delete'/'copy'/'insert'/'drop') — the clause-order
        resolution every merge path shares — plus the ``hidden`` columns
        of :meth:`_lower`. ``has_target=False`` stages the insert-only
        anti join, whose rows have no target side.

        Built as SQL text, one ``selectExpr`` call: clause conditions are
        already SQL strings, and Column-chain construction cost one py4j
        round trip per node (a ``withColumns`` map of ``F.expr`` columns
        about three per column) — paid per micro-batch on the streaming
        sinks. The action's CASE spells the clause conditions out again
        rather than naming the index columns: a lateral column alias
        resolves only while ``spark.sql.lateralColumnAlias.
        enableImplicitResolution`` is on."""
        is_t = "__t_exists__ IS NOT NULL" if has_target else "FALSE"
        is_s = "__src__ IS NOT NULL"
        on_match = f"({is_t}) AND ({is_s})"
        on_insert = f"({is_s}) AND NOT ({is_t})"
        on_by_source = f"({is_t}) AND NOT ({is_s})"

        def _first(clauses: list[_Clause], base: str, kinds: bool) -> str:
            # first matching clause wins: CASE evaluates in clause order;
            # it yields the clause's index, or with ``kinds`` its kind
            return "".join(
                f" WHEN ({base}) AND {_frag(cl.condition) if cl.condition else 'TRUE'}"
                f" THEN {repr(cl.kind) if kinds else k}"
                for k, cl in enumerate(clauses)
            )

        def _idx_sql(clauses: list[_Clause], base: str) -> str:
            whens = _first(clauses, base, kinds=False)
            return f"CASE{whens} ELSE -1 END" if whens else "-1"

        m, n, b = self._matched, self._not_matched, self._not_matched_by_source
        action_sql = (
            f"CASE{_first(m, on_match, True)}{_first(b, on_by_source, True)}"
            f" WHEN {is_t} THEN 'copy'"
            f"{_first(n, on_insert, True)} ELSE 'drop' END"
        )
        staged = select_expr(
            joined,
            "*",
            f"{_idx_sql(m, on_match)} AS __m_idx__",
            f"{_idx_sql(n, on_insert)} AS __i_idx__",
            f"{_idx_sql(b, on_by_source)} AS __b_idx__",
            f"{action_sql} AS __action__",
        )
        return staged.withColumns(hidden) if hidden else staged

    def _lower(
        self, schema, talias: str, has_target: bool = True
    ) -> tuple[dict[str, Column], list[str]]:
        """The merge's clauses through :func:`lower_assignments`: one
        branch per update or insert clause, pinned by ``__m_idx__``/
        ``__b_idx__``/``__i_idx__``. Rows no branch covers keep the
        target value: copies, updates that do not assign the field, and
        inserts (whose target side is NULL). Star clauses assign the
        source row's fields from ``__src__`` (see :meth:`_mark_source`).
        The hidden columns are added next to ``__action__`` by
        :meth:`_stage_actions`."""
        star: dict[str, str] = {}
        if any(cl.star for cl in self._matched + self._not_matched):
            # updateAll/insertAll expand over the SOURCE columns: a
            # target column absent from the source keeps its target
            # value on update and inserts NULL — the shape a
            # schema-evolution merge relies on
            star = star_assignments(self.source.schema, schema, "__src__")
        clauses = (
            [
                (f"__m_idx__ = {k}", cl)
                for k, cl in enumerate(self._matched)
                if cl.kind == "update"
            ]
            + [
                # by-source assignments reference target columns only
                # (no source row exists)
                (f"__b_idx__ = {k}", cl)
                for k, cl in enumerate(self._not_matched_by_source)
                if cl.kind == "update"
            ]
            + [(f"__i_idx__ = {k}", cl) for k, cl in enumerate(self._not_matched)]
        )
        branches = [
            (branch, star if cl.star else cl.assignments) for branch, cl in clauses
        ]
        return lower_assignments(schema, branches, f"{talias}." if has_target else None)

    def _execute_mor(
        self, allow_multiple_matches: bool, t0: float, snap, schema
    ) -> None:
        """Merge-on-read MERGE: matched update/delete rows are marked in
        roaring-bitmap deletion vectors on their files; only the updated
        outputs and the not-matched inserts are written as new files.
        Untouched rows — even inside touched files — are never rewritten.

        Same clause-order semantics and multiple-match guard as the
        copy-on-write path (shared ``_stage_actions`` resolution); the
        target side is the coordinate scan of the candidates
        (:meth:`~jodie_spark.tables.table.DeltaTable._read_candidates`
        with ``coords``), whose rows existing DVs deleted neither match
        nor resurrect.
        """
        from jodie_spark.tables.table import (
            _dv_bitmaps,
            apply_generated_columns,
            enforce_check_constraints,
            plan_candidate_files,
        )

        t = self.table
        spark = t.spark
        talias = t._alias or "target"
        out_cols = [f.name for f in schema.fields]

        t_scan = time.time()
        prune_cond = self._target_only_condition(talias, out_cols)
        candidates = plan_candidate_files(
            spark,
            t.path,
            t._planning_condition(snap, prune_cond),
            schema,
            snap.partition_columns,
        )
        t_rewrite = time.time()

        lineage, lineage_actions = t._lineage_setup(snap, candidates)
        old_dvs = _dv_bitmaps(spark, t.path, candidates)
        cached, src_obs = observe(self.source, {"numSourceRows": "count(1)"})
        cached = cached.cache()
        src = self._mark_source(cached)
        staged = None
        try:
            tgt = (
                t._read_candidates(
                    snap, schema, candidates, lineage=lineage, coords=True, old_dvs=old_dvs
                )
                .withColumn("__t_exists__", lit(True))
                .alias(talias)
            )
            joined = tgt.join(src, expr(self.condition), "full_outer")
            hidden, fields = self._lower(schema, talias)
            staged = self._stage_actions(joined, hidden).cache()

            # multiple-match guard on the (file, row_index) identity: a
            # row matched twice is marked once, so the DV-marks action
            # observes the (row, source row) pairs it marks and the
            # written bitmaps count the distinct positions. No marks at
            # all may drop the observation (AQE), which reads as 0 pairs
            check = not self._multiple_matches_allowed(allow_multiple_matches)
            marks = staged.filter(
                "__action__ IN ('update', 'delete') AND __fp__ IS NOT NULL"
            )
            if check:
                marks, pair_obs = observe(marks, {"pairs": "count(1)"})
            dv_marks = select_expr(marks, "__fp__", "__ri__").distinct()
            rows = t._write_dvs_for(dv_marks, old_dvs) if candidates else []
            marked = sum(int(r["new_card"]) - int(r["old_card"]) for r in rows)
            if check and rows and _observed(pair_obs, ["pairs"])["pairs"] > marked:
                from jodie_spark.fs import get_fs
                from jodie_spark.tables.deletion_vectors import dv_absolute_path

                fs = get_fs(t.path)
                for r in rows:
                    fs.remove(dv_absolute_path(t.path, json.loads(r["desc"])))
                raise _multiple_matches_error()

            # row tracking: updated rows keep their id, inserts get
            # fresh ids (NULL materialized value + fresh baseRowId);
            # every emitted row carries this commit's version (NULL
            # materialized → defaultRowCommitVersion fallback)
            lineage_out = []
            if lineage is not None:
                from jodie_spark.tables.row_lineage import LIN_RCV, LIN_RID

                lineage_out = [LIN_RID, f"CAST(NULL AS BIGINT) AS {LIN_RCV}"]
            # the row counts: observed on the write, which always runs,
            # above the cache and under no shuffle
            emitted, counts_obs = observe(
                staged,
                {
                    label: f"count_if(__action__ = '{a}')"
                    for a, label in _COUNTS
                    if a != "copy"
                },
            )
            emitted = select_expr(
                emitted.filter("__action__ IN ('update', 'insert')"), *fields, *lineage_out
            )
            adds = t._write_rewrite_files(
                snap,
                enforce_check_constraints(
                    apply_generated_columns(emitted, schema), snap.configuration
                ),
                lineage=lineage,
            )

        finally:
            cached.unpersist()

        pair_actions, _, dv_bytes = t._dv_action_pairs(
            candidates, rows, int(time.time() * 1000)
        )
        counts = {"copied": 0, **_observed(counts_obs, ["updated", "deleted", "inserted"])}
        if staged is not None:
            staged.unpersist()
        self._commit(
            snap, schema, prune_cond,
            list(lineage_actions) + pair_actions + [{"add": a} for a in adds],
            counts, _observed(src_obs, ["numSourceRows"])["numSourceRows"],
            (t0, t_scan, t_rewrite), adds, dv_rows=rows, dv_bytes=dv_bytes,
        )

    def execute(
        self, allow_multiple_matches: bool = False, deletion_vectors: bool = False
    ) -> None:
        from jodie_spark.tables.table import plan_candidate_files, read_files_df

        t = self.table
        spark = t.spark
        t0 = time.time()
        snap = t.deltaLog.table_info()
        # a merge with only not-matched clauses is a blind append, legal
        # on delta.appendOnly tables; matched clauses rewrite (remove) files
        t.deltaLog.check_write_allowed(
            snap,
            removes_data=bool(self._matched or self._not_matched_by_source),
        )
        from jodie_spark.tables.column_mapping import column_mapping_mode

        mapped = t._mapping_schemas(snap) is not None
        mode_id = mapped and column_mapping_mode(snap.metadata) == "id"
        if mode_id:
            # merge-on-read observes the source rows, which a mode=id
            # scan's child session never completes (see below)
            deletion_vectors = False
        schema = t.schema(snap)
        cdf = t.is_cdf_enabled(snap)
        schema_evolved = False
        evolved_conf: dict[str, str] | None = None
        if self._schema_evolution and any(
            c.star for c in self._matched + self._not_matched
        ):
            # recursive union (delta-spark mergeSchema semantics): new
            # top-level source columns append, new NESTED fields inside
            # existing struct columns append within their struct, and —
            # only when the table opted in via delta.enableTypeWidening
            # — safe type widenings (int→long, float→double chain)
            # adopt the source's wider type with a delta.typeChanges
            # record; without the opt-in the target type wins and the
            # source casts down (delta-spark parity: evolution must not
            # silently force a reader-protocol upgrade)
            widening_ok = (
                str(snap.configuration.get("delta.enableTypeWidening", "false"))
                .lower()
                == "true"
            )
            merged_schema, nested_changed = _merge_struct_types(
                schema, self.source.schema, allow_widening=widening_ok
            )
            if nested_changed:
                merged_schema, _ = _annotate_type_changes(
                    schema, merged_schema, snap.version + 1
                )
                schema = merged_schema
                if mapped:
                    # evolved columns on a mapped table need fresh
                    # mapping metadata BEFORE any file is written:
                    # a new column id (mode=id readers resolve by
                    # footer field id) and a fresh col-<uuid> physical
                    # name (mode=name readers resolve by name), plus a
                    # maxColumnId bump in the table configuration —
                    # the same assignment delta-spark's
                    # mergeSchema/ALTER ADD COLUMNS path performs
                    # (reference mergeSchema semantics:
                    # DeltaHelpers.scala:354-379 operates on arbitrary
                    # existing tables). assign_column_mapping only
                    # touches fields without mapping metadata, so the
                    # pre-existing columns keep their ids/names.
                    from jodie_spark.tables.column_mapping import (
                        MAX_ID_PROP,
                        assign_column_mapping,
                        max_column_id,
                    )

                    schema, new_max = assign_column_mapping(
                        schema,
                        start_id=max_column_id(snap.metadata),
                        fresh_physical=True,
                    )
                    evolved_conf = {MAX_ID_PROP: str(new_max)}
                schema_evolved = True
        out_cols = [f.name for f in schema.fields]
        self._resolve_assignments(out_cols)
        id_generate = self._check_identity_clauses(schema, cdf_enabled=cdf)
        if (
            deletion_vectors
            and self._matched
            and not self._not_matched_by_source
            and not self._schema_evolution
            and not cdf
            and not id_generate  # generated inserts need the CoW path
        ):
            self._execute_mor(allow_multiple_matches, t0, snap, schema)
            return
        talias = t._alias or "target"
        multi_ok = self._multiple_matches_allowed(allow_multiple_matches)

        # -- pass 1: which files contain matched rows? ----------------------
        # by-source clauses act on UNMATCHED target rows, which live in
        # files the merge-condition prune would wrongly skip — candidate
        # planning must see every file then (clause conditions, being
        # target-only, could prune instead; kept simple and correct)
        t_scan = time.time()
        prune_cond = (
            None
            if self._not_matched_by_source
            else self._target_only_condition(talias, out_cols)
        )
        candidates = plan_candidate_files(
            spark,
            t.path,
            t._planning_condition(snap, prune_cond),
            schema,
            snap.partition_columns,
        )
        lineage, lineage_actions = t._lineage_setup(snap, candidates)
        insert_only = bool(
            not self._matched
            and not self._not_matched_by_source
            and self._not_matched
            and self._insert_only_fastpath_safe(talias)
        )
        # the broadcast-source rewrite (module docstring) serves merges
        # with no multiple-match check to run, no by-source clause and
        # inserts that read the source only
        broadcast = bool(
            multi_ok
            and self._matched
            and not self._not_matched_by_source
            and (not self._not_matched or self._insert_only_fastpath_safe(talias))
        )
        conf = spark.conf
        one_task = bool(
            not insert_only
            and (self._matched or self._not_matched or self._not_matched_by_source)
            and one_small_candidate(conf, candidates)
        )
        # spark.sql.autoBroadcastJoinThreshold: negative never broadcasts
        limit = (
            conf_bytes(conf, "spark.sql.autoBroadcastJoinThreshold")
            if broadcast or one_task
            else -1
        )
        # the one-task rewrite (module docstring) also needs a source
        # Spark's static rule would broadcast: an unknown or large one
        # keeps the other shapes
        one_task = one_task and limit >= 0 and size_estimate(self.source) <= limit
        # whether the source is small enough to broadcast is settled once
        # the probe has filled the cache. The row-lineage scan joins a
        # broadcast of its own, so its partition count is not known
        # before it runs
        broadcast = bool(
            broadcast
            and not one_task
            and limit >= 0
            and candidates
            and lineage is None
        )

        # mode=id target scans run through the field-id CHILD session
        # (read_files_df), and Spark fires observation metrics on the
        # listener bus of the session that EXECUTES the action — which
        # is the target/staged side's. An Observation attached to the
        # parent-session SOURCE would never complete there (its .get
        # blocks forever), so on mode=id tables numSourceRows comes
        # from an eager count of the source instead — one extra job.
        # The staged-counts observation is safe either way: it attaches
        # to the target-derived plan, the same session the write
        # executes on. The one-task rewrite counts the source rows in
        # its own observation.
        if mode_id:
            cached, src_obs = select_expr(self.source, "*"), None
        elif one_task:
            cached, src_obs = self.source, None
        else:
            cached, src_obs = observe(self.source, {"numSourceRows": "count(1)"})
        if broadcast and self._not_matched:
            # source row ids, fixed by the cache: the probe observes the
            # matched ones, the rewrite inserts the others
            cached = cached.withColumn("__sid__", function("monotonically_increasing_id"))
        if not one_task:
            # the source plan is consumed by both passes (find-touched
            # semi join, then the rewrite join); staged sources like
            # Type2Scd's union-of-joins are expensive to recompute, so
            # cache it for the duration of the merge. The one-task
            # rewrite reads it once
            cached = cached.cache()
        src = self._mark_source(cached)
        try:
            eager_source_rows = cached.count() if mode_id else None
            touched: list[dict[str, Any]] = []
            matched_sids: list[int] = []
            n_out = None
            if insert_only:
                # insert-only merge (delta-spark optimizeInsertOnlyMerge):
                # with no matched clause, NO target file ever needs a
                # rewrite — matched rows are pure copies. The full-outer
                # join + touched-file rewrite collapses to a LEFT ANTI join
                # of the source against the stats-pruned candidate scan
                # (Catalyst prunes it to the condition's columns) followed
                # by a plain append of new files: zero removes, write volume
                # ∝ inserted rows instead of ∝ touched-file bytes. This is
                # the hot shape of streaming dedup sinks and
                # appendWithoutDuplicates.
                if candidates:
                    tgt = t._read_candidates(snap, schema, candidates).alias(talias)
                else:
                    tgt = read_files_df(spark, t.path, schema, []).alias(talias)
                joined = src.join(tgt, expr(self.condition), "left_anti")
            elif one_task:
                # no probe: the rewrite's observation decides whether
                # the candidate is touched
                touched = candidates
                joined, _ = self._rewrite_join(
                    snap, schema, talias, src, touched, lineage, one_task=True,
                    check=not multi_ok,
                )
            else:
                if broadcast and self._not_matched:
                    # a merge that inserts observes its matched source
                    # ids, unless the source is known to be too large to
                    # broadcast (an RDD-backed source has no estimate
                    # until the probe fills its cache)
                    est = size_estimate(cached)
                    broadcast = est <= limit or est >= _NO_SIZE_ESTIMATE
                if candidates and (
                    self._matched or self._not_matched or self._not_matched_by_source
                ):
                    touched, matched_sids = self._find_touched(
                        snap, schema, talias, src, candidates, multi_ok,
                        broadcast and bool(self._not_matched),
                    )
                    # the probe filled the cache: Spark's static rule now
                    # sees the source's real size
                    broadcast = (
                        broadcast
                        and len(matched_sids) <= _MAX_INSERT_FILTER_IDS
                        and size_estimate(src) <= limit
                    )
                # -- pass 2: rewrite touched files + insert unmatched rows ----
                joined, n_out = self._rewrite_join(
                    snap, schema, talias, src, touched, lineage, broadcast, matched_sids
                )
            t_rewrite = time.time()

            rewrite = (
                snap, schema, talias, not insert_only, lineage, id_generate,
                schema_evolved, cdf,
            )
            adds, cdc_actions, counts, id_schema_meta = self._rewrite(
                joined, *rewrite, n_out=n_out, one_task=one_task, check=not multi_ok
            )
            source_rows = counts.get("source_rows")
            if one_task and not counts["hits"]:
                # a miss: the candidate is not touched, and the commit is
                # the probe path's when nothing is (the inserts alone,
                # rewritten over an empty target — no job without them)
                touched = []
                if counts["inserted"]:
                    joined, _ = self._rewrite_join(
                        snap, schema, talias, src, [], lineage, one_task=True
                    )
                    adds, cdc_actions, counts, id_schema_meta = self._rewrite(
                        joined, *rewrite
                    )
                else:
                    counts = dict.fromkeys(counts, 0)
            if eager_source_rows is not None:
                num_source_rows = eager_source_rows
            elif one_task:
                num_source_rows = source_rows
            else:
                num_source_rows = _source_rows(src_obs, cached)
        finally:
            if not one_task:
                cached.unpersist()

        now_ms = int(time.time() * 1000)
        actions: list[dict[str, Any]] = list(lineage_actions)
        if schema_evolved or id_schema_meta is not None:
            meta = dict(snap.metadata)
            meta["schemaString"] = (
                id_schema_meta.json()
                if id_schema_meta is not None
                else json.dumps(schema.jsonValue())
            )
            if evolved_conf:
                # mapped-table evolution: persist the maxColumnId bump
                # alongside the new fields' mapping metadata
                conf = dict(meta.get("configuration") or {})
                conf.update(evolved_conf)
                meta["configuration"] = conf
            actions.append({"metaData": meta})
        actions += list(cdc_actions)
        actions += [{"add": a} for a in adds]
        actions += [remove_action(r, now_ms) for r in touched]
        self._commit(
            snap, schema, prune_cond, actions, counts, num_source_rows,
            (t0, t_scan, t_rewrite), adds, removed=touched, cdc_actions=cdc_actions,
        )
        from jodie_spark.tables.table import maybe_auto_compact

        maybe_auto_compact(t, config=snap.configuration)

    def _commit(
        self, snap, schema, prune_cond, actions, counts, source_rows, times,
        adds, removed=(), cdc_actions=(), dv_rows=(), dv_bytes=0,
    ) -> None:
        """The MERGE commit, one ``operationParameters`` and one
        ``operationMetrics`` key set in either write mode. ``counts`` are
        the row counts by :data:`_COUNTS` label; ``times`` is (start,
        planning start, rewrite start); merge-on-read passes the
        bitmap rows it wrote (:meth:`~jodie_spark.tables.table.DeltaTable._write_dvs_for`)
        and their bytes. The read set is ``prune_cond``, which selected
        the candidate files (None = whole table, e.g. with by-source
        clauses; the insert-only anti join read the same stats-pruned
        set)."""
        from jodie_spark.tables.pruning import make_read_checker

        t0, t_scan, t_rewrite = times
        now = time.time()
        metrics = {
            "numSourceRows": source_rows,
            "numTargetRowsInserted": counts["inserted"],
            "numTargetRowsUpdated": counts["updated"],
            "numTargetRowsDeleted": counts["deleted"],
            "numTargetRowsCopied": counts["copied"],
            "numOutputRows": counts["inserted"] + counts["updated"] + counts["copied"],
            "numTargetFilesAdded": len(adds),
            "numTargetFilesRemoved": len(removed),
            "numTargetChangeFilesAdded": len(cdc_actions),
            "numDeletionVectorsAdded": len(dv_rows),
            "numAddedBytes": dv_bytes + sum(int(a.get("size") or 0) for a in adds),
            "executionTimeMs": int((now - t0) * 1000),
            # candidate planning + touched-file probe
            "scanTimeMs": int((t_rewrite - t_scan) * 1000),
            # pass 2 and its writes
            "rewriteTimeMs": int((now - t_rewrite) * 1000),
        }
        params = {"predicate": self.condition}
        for key, clauses in (
            ("matchedPredicates", self._matched),
            ("notMatchedPredicates", self._not_matched),
            ("notMatchedBySourcePredicates", self._not_matched_by_source),
        ):
            params[key] = json.dumps(
                [
                    {"predicate": c.condition, "actionType": c.kind}
                    if c.condition
                    else {"actionType": c.kind}
                    for c in clauses
                ]
            )
        self.table.deltaLog.commit(
            snap.version,
            actions,
            "MERGE",
            params,
            {k: str(v) for k, v in metrics.items()},
            read_check=make_read_checker(
                self.table._planning_condition(snap, prune_cond),
                schema,
                snap.partition_columns,
            ),
        )

    def _rewrite_join(
        self, snap, schema, talias, src, touched, lineage, broadcast=False,
        matched_sids=(), one_task=False, check=False,
    ) -> tuple[DataFrame, int | None]:
        """Pass 2's join of the ``touched`` adds with ``src``, in one of
        the three rewrite shapes of the module docstring, and the output
        partition count to coalesce to (None: keep the plan's).

        ``one_task`` coalesces each side to one partition: both report
        ``SinglePartition``, so Catalyst plans a sort-merge join with no
        exchange and no broadcast. The source rows carry ``__s_id__``,
        0…n-1 in the one task. With ``check`` (the multiple-match check)
        ``__n__`` counts each target row's matches, a window over the row
        id ``__t_id__`` that a ``coalesce(1)`` above the join keeps
        exchange-free too."""
        t = self.table
        if touched:
            # fresh scan over ONLY the touched adds — full columns, but a
            # file-list-level prune instead of an input_file_name filter
            # over every candidate
            tgt = t._read_candidates(snap, schema, touched, lineage=lineage)
        else:
            from jodie_spark.tables.table import read_files_df

            tgt = read_files_df(t.spark, t.path, schema, [])
            if lineage is not None:
                from jodie_spark.tables.row_lineage import LIN_RCV, LIN_RID

                tgt = tgt.withColumn(
                    LIN_RID, lit(None).cast("long")
                ).withColumn(LIN_RCV, lit(None).cast("long"))
        if one_task:
            tgt = tgt.coalesce(1)
            if check:
                tgt = tgt.withColumn("__t_id__", function("monotonically_increasing_id"))
        tgt = tgt.withColumn("__t_exists__", lit(True)).alias(talias)
        if one_task:
            # the source rows, numbered 0…n-1 in the one task: the write's
            # observation counts them once however many rows each matches
            src = src.coalesce(1).withColumn(
                "__s_id__", function("monotonically_increasing_id")
            )
            joined = tgt.join(src, expr(self.condition), "full_outer")
            if check:
                joined = select_expr(
                    joined.coalesce(1),
                    "*",
                    "count(__src__) OVER (PARTITION BY __t_id__) AS __n__",
                )
            return joined, None
        if not broadcast:
            return tgt.join(src, expr(self.condition), "full_outer"), None
        # the updated, deleted and copied rows: the static rule broadcasts
        # the source (its size was just checked), so there is no target
        # shuffle and each file keeps its row order
        joined = (tgt if touched else tgt.limit(0)).join(
            src, expr(self.condition), "left_outer"
        )
        if not self._not_matched:
            return joined, None
        # plus the source rows no candidate row matched, with an empty
        # target side (Catalyst folds the join away); the union keeps the
        # first side's aliases, so the staging text resolves unchanged
        new = (
            src.filter(f"NOT (__sid__ IN ({', '.join(map(str, matched_sids))}))")
            if matched_sids
            else src
        )
        joined = joined.union(
            tgt.limit(0).join(new, expr(self.condition), "right_outer")
        )
        # one file per target scan partition: a one-file target and its
        # inserts stay one file
        return joined, num_partitions(tgt) if touched else 1

    def _rewrite(
        self, joined, snap, schema, talias, has_target, lineage, id_generate,
        schema_evolved, cdf, n_out=None, one_task=False, check=False,
    ) -> tuple[list[dict[str, Any]], list[dict[str, Any]], dict[str, int], Any]:
        """Pass 2's write: stage ``joined`` (:meth:`_stage_actions`), write
        the lowered output rows as data files, then on CDF tables the
        change rows. Returns (adds, cdc actions, row counts, the schema
        carrying new identity high-water marks or None); the counts are
        observed on the data-file write.

        On the ``one_task`` rewrite the same observation counts ``hits``,
        the target rows the merge touches (matched, or hit by a by-source
        clause), ``source_rows`` (``numSourceRows``, from the numbers
        :meth:`_rewrite_join` gives the source rows), and with ``check``
        ``dups``, the target rows matching more than one source row.
        They are read through
        :func:`~jodie_spark.tables.table.observation_values`, so a
        missing one raises, and decide before any change row is written:
        dups refuse the merge, and no hits mean the candidate is not
        touched (no adds returned). Either way the written files are
        deleted."""
        from jodie_spark.tables.table import (
            apply_generated_columns,
            enforce_check_constraints,
            observation_values,
        )

        t = self.table
        hidden, fields = self._lower(schema, talias, has_target)
        aggs = {label: f"count_if(__action__ = '{a}')" for a, label in _COUNTS}
        if one_task:
            aggs["hits"] = (
                "count_if(__t_exists__ IS NOT NULL"
                " AND (__src__ IS NOT NULL OR __b_idx__ >= 0))"
            )
            aggs["source_rows"] = "coalesce(max(__s_id__) + 1, 0)"
            if check:
                aggs["dups"] = "count_if(__t_exists__ IS NOT NULL AND __n__ > 1)"
        staged, obs = observe(self._stage_actions(joined, hidden, has_target), aggs)
        # CDF re-consumes `staged` for the delete/pre/post/insert change
        # legs; without a cache each leg would re-run the join. Non-CDF
        # merges evaluate it once — no cache, no memory pressure
        staged_cached = cdf and has_target
        if staged_cached:
            staged = staged.cache()
        try:
            # row tracking: copied+updated rows keep their id (insert
            # rows joined from the source side carry NULL → fresh ids via
            # the add's baseRowId); only copied rows keep their commit
            # version
            lineage_out = []
            if lineage is not None:
                from jodie_spark.tables.row_lineage import LIN_RCV, LIN_RID

                lineage_out = (
                    [
                        LIN_RID,
                        f"CASE WHEN __action__ = 'copy' THEN {LIN_RCV} END"
                        f" AS {LIN_RCV}",
                    ]
                    if has_target
                    else [f"CAST(NULL AS BIGINT) AS {c}" for c in (LIN_RID, LIN_RCV)]
                )
            result = select_expr(
                staged.filter("__action__ IN ('update', 'copy', 'insert')"),
                *fields,
                *lineage_out,
            )
            id_schema_meta = None
            if id_generate:
                keep_cols = [f.name for f in schema.fields] + (
                    [LIN_RID, LIN_RCV] if lineage is not None else []
                )
                result, id_schema_meta = _assign_identities(
                    result, schema, id_generate, keep_cols
                )
            if n_out is not None:
                result = result.coalesce(n_out)
            adds = t._write_rewrite_files(
                snap,
                enforce_check_constraints(
                    apply_generated_columns(result, schema), snap.configuration
                ),
                lineage=lineage,
                logical_schema=schema if schema_evolved else None,
            )
            if not one_task:
                counts = _observed(obs, list(aggs))
            else:
                try:
                    got = observation_values(obs, "rewrite")
                    if check and got["dups"]:
                        raise _multiple_matches_error()
                except BaseException:
                    t._discard_files(adds)
                    raise
                counts = {name: int(got[name]) for name in aggs}
                if not counts["hits"]:
                    t._discard_files(adds)
                    return [], [], counts, None

            cdc_actions: list[dict[str, Any]] = []
            if cdf:
                # change rows: pre-images carry the target columns,
                # post-images the merge output columns — same shapes
                # Delta's MergeIntoCommand records
                pre = [
                    f"CAST({talias}.{quote_ident(f.name)} AS {type_ddl(f.dataType)})"
                    f" AS {quote_ident(f.name)}"
                    for f in schema.fields
                ]
                legs = (
                    [
                        ("delete", pre, "delete"),
                        ("update", pre, "update_preimage"),
                        ("update", fields, "update_postimage"),
                    ]
                    if self._matched or self._not_matched_by_source
                    else []
                ) + [("insert", fields, "insert")]
                change_df = None
                for action, cols, change in legs:
                    leg = select_expr(
                        staged.filter(f"__action__ = '{action}'"),
                        *cols,
                        f"'{change}' AS _change_type",
                    )
                    change_df = (
                        leg if change_df is None else change_df.unionByName(leg)
                    )
                # no more change files than data files: uncoalesced,
                # each change leg writes a file per partition
                change_df = change_df.coalesce(
                    n_out if n_out is not None else max(1, len(adds))
                )
                cdc_actions = t._write_cdf_files(
                    change_df, snap,
                    logical_schema=schema if schema_evolved else None,
                )
        finally:
            if staged_cached:
                staged.unpersist()
        return adds, cdc_actions, counts, id_schema_meta

    def _multiple_matches_allowed(self, allow_multiple_matches: bool) -> bool:
        """delta-spark parity: multiple source rows matching one target
        row make the merge nondeterministic (and pass 2 would emit one
        output row per match — for merges WITHOUT matched clauses the
        matched target row is a 'copy' row, so a multi-match would
        silently DUPLICATE it in the rewrite). Delta allows it only when
        the sole matched clause is an unconditional DELETE (the row is
        gone either way) — MergeIntoCommand's
        isDeleteWithMultipleMatchesAllowed."""
        return allow_multiple_matches or (
            len(self._matched) == 1
            and self._matched[0].kind == "delete"
            and self._matched[0].condition is None
        )

    def _find_touched(
        self, snap, schema, talias, src, candidates, multi_ok, sids
    ) -> tuple[list[dict[str, Any]], list[int]]:
        """Pass 1: the candidate adds holding at least one row the merge
        changes, found by ONE noop action that observes the file set
        (:func:`~jodie_spark.tables.table.observed_metrics`): the semi
        join (or, with the multiple-match check on, the inner join with
        one per-target-row count), unioned with the by-source anti join
        when by-source clauses exist. A missing observation raises.

        With ``sids`` it is the inner join, which also observes the
        matched source-row ids (``__sid__``, at most
        ``_MAX_INSERT_FILTER_IDS + 1`` of them) for the broadcast-source
        rewrite. Returns (touched adds, matched ids).

        The probe is NOT cached: uncached, Spark's column pruning
        reaches the parquet scan, so it reads only the merge-key columns
        of the candidate files, and pass 2 re-plans a full-column scan
        over the TOUCHED files only (MergeIntoCommand's shape). Caching
        here materialized every column of every candidate row."""
        from jodie_spark.tables.table import map_touched_paths, observed_metrics

        t = self.table
        # the probe never resolves row ids: only the rewrite reads them
        probe = t._read_candidates(snap, schema, candidates).withColumn(
            "__path__", function("input_file_name")
        )
        # the multiple-match guard must run whenever touched files will
        # be rewritten, not only when matched clauses exist (by-source-
        # only and slow-path insert-only merges rewrite copies too)
        if sids:
            rows = probe.alias(talias).join(src, expr(self.condition), "inner")
        elif multi_ok:
            rows = select_expr(
                probe.alias(talias).join(src, expr(self.condition), "left_semi"),
                "__path__",
            )
        else:
            # same shape as MergeIntoCommand.findTouchedFiles: matches
            # counted per target row (partial-aggregated map-side, so
            # the one shuffle carries (t_id, path, count) rows). The
            # file set is observed above the count: an observation
            # under the shuffle is dropped when AQE proves the join
            # empty (empty source)
            joined = (
                probe.withColumn("__t_id__", function("monotonically_increasing_id"))
                .alias(talias)
                .join(src, expr(self.condition), "inner")
            )
            rows = select_expr(
                group_agg(joined, ["__t_id__", "__path__"], "count(1) AS __n__"),
                "__path__",
                "__n__",
            )
        if self._not_matched_by_source:
            # files of UNMATCHED target rows satisfying some by-source
            # clause condition rewrite too
            bs_cond = " OR ".join(
                _frag(cl.condition) if cl.condition else "TRUE"
                for cl in self._not_matched_by_source
            )
            unmatched = (
                probe.alias(talias)
                .join(src, expr(self.condition), "left_anti")
                .filter(bs_cond)
            )
            rows = rows.unionByName(
                select_expr(unmatched, "__path__", *([] if multi_ok else ["1 AS __n__"]))
            )
        # only "> 0" is read: a re-executed task cannot turn the count
        # (nor the file set, a set union) into a wrong answer
        extra = (
            {"sids": f"slice(collect_set(__sid__), 1, {_MAX_INSERT_FILTER_IDS + 1})"}
            if sids
            else {} if multi_ok else {"dups": "count_if(__n__ > 1)"}
        )
        got = observed_metrics(rows, files="collect_set(__path__)", **extra)
        if not multi_ok and got["dups"] > 0:
            raise _multiple_matches_error()
        # raises on any URI that fails to map back to a candidate add —
        # a partial/empty touched set here would re-insert matched
        # source rows as duplicates against an empty rewrite target
        return (
            map_touched_paths(t.path, candidates, set(got["files"] or ())),
            list(got.get("sids") or ()),
        )
