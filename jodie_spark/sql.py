"""SQL front end: the delta-spark SQL statements a reference user runs
today, routed onto the native engine.

    from jodie_spark.sql import sql
    sql(spark, "DELETE FROM delta.`/data/events` WHERE day < '2024-01-01'")
    sql(spark, "MERGE INTO tgt t USING src s ON t.k = s.k "
               "WHEN MATCHED THEN UPDATE SET * "
               "WHEN NOT MATCHED THEN INSERT *")
    sql(spark, "OPTIMIZE tgt ZORDER BY (k)")
    sql(spark, "SELECT count(*) FROM tgt")           # Catalyst, fresh view

Table references are either a registered catalog name
(``jodie_spark.catalog``) or delta-spark's path form
``delta.`/abs/path```. SELECT/WITH statements pass through
``spark.sql`` after every registered view is refreshed to its current
snapshot, so queries always read the post-DML state. The DML dialect
is intentionally bounded — anything it can't parse raises with the
offending fragment rather than mis-executing.

Parsing is quote- and paren-aware (a ``WHERE`` inside a string literal
or subquery never splits a clause) but deliberately not a full SQL
grammar: expressions (conditions, assignments, values) are handed to
Spark's own parser via the DataFrame DML implementations.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from jodie_spark.errors import JodieValidationError

_REF = r"(?:delta\.`(?P<path>[^`]+)`|(?P<name>[A-Za-z_][\w]*(?:\.[\w]+)*))"


def _skip_quoted(s: str, i: int) -> int:
    """``s[i]`` is an opening quote (', " or `); return the index just
    past its closing quote.  Handles Spark's default backslash escapes
    (``'O\\'Brien'``), SQL ''-doubling (``'O''Brien'``), and backtick
    doubling in identifiers.  Unterminated literals consume to EOS
    (callers raise a parse error on the leftover fragment)."""
    q = s[i]
    n = len(s)
    i += 1
    while i < n:
        c = s[i]
        if c == "\\" and q in "'\"" and i + 1 < n:
            i += 2  # backslash escape: skip escaped char
            continue
        if c == q:
            if i + 1 < n and s[i + 1] == q:
                i += 2  # doubled-quote escape
                continue
            return i + 1
        i += 1
    return n


def _is_kw_at(s: str, i: int, word: str) -> bool:
    wl = len(word)
    if s[i : i + wl].upper() != word.upper():
        return False
    before_ok = i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")
    after = i + wl
    after_ok = after >= len(s) or not (s[after].isalnum() or s[after] == "_")
    return before_ok and after_ok


def _find_top_level(s: str, word: str, start: int = 0, skip_case: bool = False) -> int:
    """Index of the first occurrence of keyword ``word`` at paren depth
    0, outside quotes, or -1.  With ``skip_case`` a match inside a
    top-level ``CASE ... END`` block is ignored (so a CASE WHEN inside a
    MERGE action never splits the WHEN-clause chunking)."""
    depth = 0
    case_depth = 0
    i = start
    n = len(s)
    while i < n:
        c = s[i]
        if c in "'\"`":
            i = _skip_quoted(s, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            if skip_case and _is_kw_at(s, i, "CASE"):
                case_depth += 1
                i += 4
                continue
            if skip_case and case_depth > 0 and _is_kw_at(s, i, "END"):
                case_depth -= 1
                i += 3
                continue
            if case_depth == 0 and _is_kw_at(s, i, word):
                return i
        i += 1
    return -1


def _split_top_level(s: str, sep: str) -> list[str]:
    """Split on a single-char separator at depth 0, quote-aware (same
    escape rules as :func:`_find_top_level`)."""
    out, buf, depth, i, n = [], [], 0, 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"`":
            j = _skip_quoted(s, i)
            buf.append(s[i:j])
            i = j
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == sep and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(c)
        i += 1
    out.append("".join(buf))
    return [p.strip() for p in out if p.strip()]


_IDENT_PART = r"(?:`(?:[^`]|``)*`|\w+)"


def _target_column(ref: str, alias: str | None) -> str:
    """Column named by an assignment target or INSERT column: parts
    backtick-unquoted, and a leading target-alias qualifier (``t.v``)
    stripped, since the qualified form names no target column."""
    parts = [
        p[1:-1].replace("``", "`") if p.startswith("`") else p
        for p in re.findall(_IDENT_PART, ref)
    ]
    if alias and len(parts) > 1 and parts[0].lower() == alias.lower():
        parts = parts[1:]
    return ".".join(parts)


def _parse_assignments(s: str, alias: str | None) -> dict[str, str]:
    out: dict[str, str] = {}
    for part in _split_top_level(s, ","):
        m = re.match(
            rf"^\s*({_IDENT_PART}(?:\s*\.\s*{_IDENT_PART})*)\s*=\s*(.+)$", part, re.S
        )
        if not m:
            raise JodieValidationError(f"cannot parse SET assignment: {part!r}")
        out[_target_column(m.group(1), alias)] = m.group(2).strip()
    return out


def _resolve(spark: SparkSession, m: re.Match):
    from jodie_spark.catalog import resolve_table_path
    from jodie_spark.tables.table import DeltaTable

    path = m.group("path")
    if path is None:
        path = resolve_table_path(m.group("name"))
    return DeltaTable.forPath(spark, path)


def _refresh_views(spark: SparkSession) -> None:
    from jodie_spark import catalog

    for name in list(catalog._REGISTRY):
        try:
            catalog.refresh_table(spark, name)
        except Exception:
            # stale registration (table dropped from disk): leave the
            # old view in place rather than failing unrelated statements
            pass


def sql(spark: SparkSession, statement: str) -> DataFrame | None:
    """Execute one statement. Returns a DataFrame for SELECT / WITH /
    DESCRIBE HISTORY / VACUUM DRY RUN; DML and utilities return None."""
    s = statement.strip().rstrip(";").strip()
    head = s.split(None, 1)[0].upper() if s else ""

    if head in ("SELECT", "WITH"):
        _refresh_views(spark)
        return spark.sql(_rewrite_time_travel(spark, s))

    if head == "DELETE":
        m = re.match(rf"(?is)^DELETE\s+FROM\s+{_REF}\s*(?:WHERE\s+(?P<cond>.+))?$", s)
        if not m:
            raise JodieValidationError(f"cannot parse DELETE statement: {s!r}")
        _resolve(spark, m).delete(m.group("cond"))
        return None

    if head == "UPDATE":
        m = re.match(rf"(?is)^UPDATE\s+{_REF}\s+SET\s+(?P<rest>.+)$", s)
        if not m:
            raise JodieValidationError(f"cannot parse UPDATE statement: {s!r}")
        rest = m.group("rest")
        wi = _find_top_level(rest, "WHERE")
        cond = rest[wi + 5 :].strip() if wi >= 0 else None
        sets = _parse_assignments(rest[:wi] if wi >= 0 else rest, m.group("name"))
        _resolve(spark, m).update(cond, sets)
        return None

    if head == "MERGE":
        return _merge(spark, s)

    if head == "INSERT":
        m = re.match(
            rf"(?is)^INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?{_REF}\s+(?P<q>.+)$",
            s,
        )
        if not m:
            raise JodieValidationError(f"cannot parse INSERT statement: {s!r}")
        from jodie_spark.tables.table import write_delta

        t = _resolve(spark, m)
        _refresh_views(spark)
        q = m.group("q").strip()
        if q.upper().startswith("VALUES"):
            q = f"SELECT * FROM ({q}) "
        df = spark.sql(q)
        # positional semantics (SQL INSERT): align by the table's column order
        target_cols = [f.name for f in t.schema().fields]
        if len(df.columns) != len(target_cols):
            raise JodieValidationError(
                f"INSERT column count {len(df.columns)} does not match "
                f"table ({len(target_cols)})"
            )
        df = df.toDF(*target_cols)
        write_delta(
            df, t.path, mode="append" if m.group("mode").upper() == "INTO" else "overwrite"
        )
        return None

    if head == "ALTER":
        m = re.match(
            rf"(?is)^ALTER\s+TABLE\s+{_REF}\s+(?P<rest>.+)$", s
        )
        if not m:
            raise JodieValidationError(f"cannot parse ALTER statement: {s!r}")
        t = _resolve(spark, m)
        rest = m.group("rest").strip()
        mp = re.match(r"(?is)^SET\s+TBLPROPERTIES\s*\((?P<kv>.+)\)\s*$", rest)
        if mp:
            props: dict[str, str] = {}
            for part in _split_top_level(mp.group("kv"), ","):
                pm = re.match(r"""^\s*['"]?([^'"=\s]+)['"]?\s*=\s*['"]?([^'"]*)['"]?\s*$""", part)
                if not pm:
                    raise JodieValidationError(f"cannot parse property: {part!r}")
                props[pm.group(1)] = pm.group(2)
            t.set_properties(props)
            return None
        mc = re.match(
            r"(?is)^ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((?P<e>.+)\)\s*$", rest
        )
        if mc:
            t.add_check_constraint(mc.group(1), mc.group("e").strip())
            return None
        md = re.match(r"(?is)^DROP\s+CONSTRAINT\s+(\w+)\s*$", rest)
        if md:
            t.drop_check_constraint(md.group(1))
            return None
        ma = re.match(r"(?is)^ADD\s+COLUMNS?\s*\(?(?P<defs>[^)]+?)\)?\s*$", rest)
        if ma:
            cols: dict[str, str] = {}
            for part in _split_top_level(ma.group("defs"), ","):
                dm2 = re.match(r"^\s*([\w`]+)\s+(.+)$", part)
                if not dm2:
                    raise JodieValidationError(f"cannot parse column def: {part!r}")
                cols[dm2.group(1).strip("`")] = dm2.group(2).strip()
            t.add_columns(cols)
            return None
        mr = re.match(r"(?is)^RENAME\s+COLUMN\s+([\w`]+)\s+TO\s+([\w`]+)\s*$", rest)
        if mr:
            t.rename_column(mr.group(1).strip("`"), mr.group(2).strip("`"))
            return None
        mdl = re.match(r"(?is)^DROP\s+COLUMN\s+([\w`]+)\s*$", rest)
        if mdl:
            t.drop_column(mdl.group(1).strip("`"))
            return None
        mk = re.match(r"(?is)^CLUSTER\s+BY\s*\((?P<cols>[^)]+)\)\s*$", rest)
        if mk:
            t.set_cluster_by([c.strip().strip("`") for c in mk.group("cols").split(",")])
            return None
        if re.match(r"(?is)^CLUSTER\s+BY\s+NONE\s*$", rest):
            t.set_cluster_by([])
            return None
        mf = re.match(r"(?is)^DROP\s+FEATURE\s+[`']?(\w+)[`']?\s*$", rest)
        if mf:
            t.drop_feature(mf.group(1))
            return None
        mu = re.match(
            r"(?is)^UNSET\s+TBLPROPERTIES\s*(?P<ife>IF\s+EXISTS\s*)?\((?P<ks>.+)\)\s*$",
            rest,
        )
        if mu:
            keys = [
                k.strip().strip("'\"") for k in _split_top_level(mu.group("ks"), ",")
            ]
            t.unset_properties(keys, if_exists=bool(mu.group("ife")))
            return None
        mt = re.match(
            r"(?is)^ALTER\s+COLUMN\s+([\w`]+)\s+TYPE\s+(?P<ty>[\w()<>,\s]+?)\s*$",
            rest,
        )
        if mt:
            t.widen_column_type(mt.group(1).strip("`"), mt.group("ty").strip())
            return None
        raise JodieValidationError(f"cannot parse ALTER action: {rest!r}")

    if head == "CREATE":
        # CREATE TABLE <target> SHALLOW CLONE <source> — zero-copy clone
        mc = re.match(
            r"(?is)^CREATE\s+TABLE\s+(?:delta\.`(?P<tpath>[^`]+)`|(?P<tname>[\w.]+)"
            r"(?:\s+LOCATION\s+'(?P<tloc>[^']+)')?)\s+SHALLOW\s+CLONE\s+"
            rf"{_REF}(?:\s+VERSION\s+AS\s+OF\s+(?P<cver>\d+)"
            r"|\s+TIMESTAMP\s+AS\s+OF\s+'(?P<cts>[^']+)')?$",
            s,
        )
        if mc:
            from jodie_spark.catalog import register_delta_table
            from jodie_spark.operators.helpers import shallow_clone

            src_t = _resolve(spark, mc)
            dst = mc.group("tpath") or mc.group("tloc")
            if dst is None:
                raise JodieValidationError(
                    "SHALLOW CLONE needs a target location: CREATE TABLE "
                    "delta.`/path` SHALLOW CLONE src, or name LOCATION '/path'"
                )
            cver = mc.group("cver")
            shallow_clone(
                src_t,
                dst,
                version=int(cver) if cver else None,
                timestamp=mc.group("cts"),
            )
            if mc.group("tname"):
                register_delta_table(spark, mc.group("tname"), dst)
            return None
        # CREATE TABLE <name> USING DELTA LOCATION '<path>'  (register)
        m = re.match(
            r"(?is)^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<tname>[\w.]+)\s+"
            r"USING\s+DELTA\s+LOCATION\s+'(?P<loc>[^']+)'$",
            s,
        )
        if m:
            from jodie_spark.catalog import register_delta_table

            register_delta_table(spark, m.group("tname"), m.group("loc"))
            return None
        # column-level DDL:
        #   CREATE TABLE [IF NOT EXISTS] <ref|name [LOCATION 'p']> (
        #     c BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1 INCREMENT BY 1),
        #     d DATE GENERATED ALWAYS AS (CAST(ts AS DATE)),
        #     q INT NOT NULL DEFAULT 0, ...
        #   ) USING DELTA [PARTITIONED BY (..)] [CLUSTER BY (..)]
        #     [LOCATION 'p'] [TBLPROPERTIES (k=v, ..)]
        m = re.match(
            r"(?is)^CREATE\s+(?P<orr>OR\s+REPLACE\s+)?TABLE\s+"
            r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
            rf"{_REF}(?:\s+LOCATION\s+'(?P<loc1>[^']+)')?\s*"
            r"\((?P<cols>.+)\)\s*USING\s+DELTA(?P<tail>.*)$",
            s,
        )
        if m:
            return _create_with_columns(spark, m)
        # CTAS: CREATE [OR REPLACE] TABLE <ref or name LOCATION 'p'> AS SELECT ...
        m = re.match(
            rf"(?is)^CREATE\s+(?P<orr>OR\s+REPLACE\s+)?TABLE\s+{_REF}"
            r"(?:\s+LOCATION\s+'(?P<loc>[^']+)')?\s+AS\s+(?P<q>.+)$",
            s,
        )
        if m:
            from jodie_spark.catalog import register_delta_table
            from jodie_spark.tables.table import write_delta

            _refresh_views(spark)
            df = spark.sql(m.group("q"))
            loc = m.group("path") or m.group("loc")
            if loc is None:
                raise JodieValidationError(
                    "CTAS needs a location: CREATE TABLE delta.`/path` AS "
                    "... or CREATE TABLE name LOCATION '/path' AS ..."
                )
            if m.group("orr"):
                write_delta(
                    df, loc, mode="overwrite",
                    options={"overwriteSchema": "true"},
                )
            else:
                write_delta(df, loc)
            if m.group("name"):
                register_delta_table(spark, m.group("name"), loc)
            return None
        raise JodieValidationError(f"cannot parse CREATE statement: {s!r}")

    if head == "DROP":
        m = re.match(r"(?is)^DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<tname>[\w.]+)$", s)
        if not m:
            raise JodieValidationError(f"cannot parse DROP statement: {s!r}")
        from jodie_spark.catalog import unregister_table

        unregister_table(spark, m.group("tname"))  # catalog only; data stays
        return None

    if head == "CONVERT":
        m = re.match(
            r"(?is)^CONVERT\s+TO\s+DELTA\s+(?P<fmt>parquet|iceberg)\.`(?P<loc>[^`]+)`"
            r"(?:\s+PARTITIONED\s+BY\s*\((?P<cols>[^)]+)\))?$",
            s,
        )
        if not m:
            raise JodieValidationError(f"cannot parse CONVERT statement: {s!r}")
        if m.group("fmt").lower() == "iceberg":
            if m.group("cols"):
                raise JodieValidationError(
                    "CONVERT TO DELTA iceberg derives partitioning from the "
                    "Iceberg spec — PARTITIONED BY is not allowed"
                )
            from jodie_spark.interop.iceberg import convert_iceberg_to_delta

            convert_iceberg_to_delta(spark, m.group("loc"))
            return None
        from jodie_spark.sources.convert import convert_to_delta

        cols = (
            [c.strip().split()[0].strip("`") for c in m.group("cols").split(",")]
            if m.group("cols")
            else None
        )
        convert_to_delta(spark, m.group("loc"), partition_columns=cols)
        return None

    if head == "SHOW":
        m = re.match(rf"(?is)^SHOW\s+TBLPROPERTIES\s+{_REF}$", s)
        if m:
            t = _resolve(spark, m)
            cfg = t.snapshot().configuration
            return spark.createDataFrame(
                sorted(cfg.items()), "key string, value string"
            )
        m = re.match(rf"(?is)^SHOW\s+CREATE\s+TABLE\s+{_REF}$", s)
        if not m:
            raise JodieValidationError(f"cannot parse SHOW statement: {s!r}")
        t = _resolve(spark, m)
        return spark.createDataFrame(
            [(_show_create_table(t),)], "createtab_stmt string"
        )

    if head == "OPTIMIZE":
        m = re.match(
            rf"(?is)^OPTIMIZE\s+{_REF}\s*(?P<full>FULL)?\s*(?:WHERE\s+(?P<cond>.+?))?"
            r"(?:\s*ZORDER\s+BY\s*\((?P<cols>[^)]+)\))?$",
            s,
        )
        if not m:
            raise JodieValidationError(f"cannot parse OPTIMIZE statement: {s!r}")
        t = _resolve(spark, m)
        b = t.optimize()
        if m.group("cond"):
            b = b.where(m.group("cond").strip())
        if m.group("cols"):
            if m.group("full"):
                raise JodieValidationError("OPTIMIZE FULL cannot combine with ZORDER BY")
            cols = [c.strip().strip("`") for c in m.group("cols").split(",")]
            b.executeZOrderBy(*cols)
        elif m.group("full"):
            # delta syntax: force a full re-cluster, ignoring zcube tags
            b.executeFull()
        else:
            b.executeCompaction()
        return None

    if head == "VACUUM":
        m = re.match(
            rf"(?is)^VACUUM\s+{_REF}\s*(?:RETAIN\s+(?P<hours>[\d.]+)\s+HOURS?)?"
            r"\s*(?P<dry>DRY\s+RUN)?$",
            s,
        )
        if not m:
            raise JodieValidationError(f"cannot parse VACUUM statement: {s!r}")
        t = _resolve(spark, m)
        hours = float(m.group("hours")) if m.group("hours") else 168.0
        result = t.vacuum(retention_hours=hours, dry_run=bool(m.group("dry")))
        if m.group("dry"):
            return spark.createDataFrame([(p,) for p in result or []], "path string")
        return None

    if head == "FSCK":
        # FSCK REPAIR TABLE <ref> [DRY RUN] — delta-spark parity: find
        # add entries whose data (or DV) files are physically missing;
        # DRY RUN lists them, the real run commits removes so the
        # table reads cleanly again
        m = re.match(
            rf"(?is)^FSCK\s+REPAIR\s+TABLE\s+{_REF}\s*(?P<dry>DRY\s+RUN)?$", s
        )
        if not m:
            raise JodieValidationError(f"cannot parse FSCK statement: {s!r}")
        missing = _resolve(spark, m).fsck(dry_run=bool(m.group("dry")))
        return spark.createDataFrame(
            [(p,) for p in missing or []], "path string"
        )

    if head == "RESTORE":
        m = re.match(
            rf"(?is)^RESTORE\s+(?:TABLE\s+)?{_REF}\s+TO\s+"
            r"(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)"
            r"|TIMESTAMP\s+AS\s+OF\s+'(?P<rts>[^']+)')$",
            s,
        )
        if not m:
            raise JodieValidationError(f"cannot parse RESTORE statement: {s!r}")
        _resolve(spark, m).restore(
            version=int(m.group("v")) if m.group("v") else None,
            timestamp=m.group("rts"),
        )
        return None

    if head == "DESCRIBE":
        m = re.match(rf"(?is)^DESCRIBE\s+(?P<what>HISTORY|DETAIL)\s+{_REF}$", s)
        if not m:
            raise JodieValidationError(f"cannot parse DESCRIBE statement: {s!r}")
        t = _resolve(spark, m)
        return t.history() if m.group("what").upper() == "HISTORY" else t.detail()

    if head == "GENERATE":
        m = re.match(
            rf"(?is)^GENERATE\s+[`']?symlink_format_manifest[`']?\s+FOR\s+TABLE\s+{_REF}\s*$",
            s,
        )
        if not m:
            raise JodieValidationError(f"cannot parse GENERATE statement: {s!r}")
        _resolve(spark, m).generate("symlink_format_manifest")
        return None

    if head == "REORG":
        # REORG TABLE <ref> APPLY (PURGE) — physically rewrite files
        # carrying deletion vectors / dropped-column bytes
        m = re.match(
            rf"(?is)^REORG\s+TABLE\s+{_REF}\s+APPLY\s*\(\s*PURGE\s*\)\s*$", s
        )
        if not m:
            raise JodieValidationError(f"cannot parse REORG statement: {s!r}")
        _resolve(spark, m).reorg_purge()
        return None

    raise JodieValidationError(
        f"unsupported SQL statement (supported: SELECT/WITH, DELETE, UPDATE, "
        f"MERGE, INSERT, ALTER TABLE, SHOW TBLPROPERTIES, OPTIMIZE, VACUUM, "
        f"RESTORE, DESCRIBE HISTORY): {s[:80]!r}"
    )


_TT_RE = re.compile(
    r"(?is)(?:delta\.`(?P<path>[^`]+)`|(?P<name>[A-Za-z_]\w*))\s+"
    r"(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')"
)


def _show_create_table(t) -> str:
    """Reconstruct runnable CREATE TABLE DDL from the snapshot's
    metadata — delta-spark's SHOW CREATE TABLE shape: columns (with
    NOT NULL, identity/generation clauses, CURRENT_DEFAULT), USING
    DELTA, PARTITIONED BY / CLUSTER BY, TBLPROPERTIES, LOCATION."""
    from jodie_spark.tables.identity import identity_columns_of
    from jodie_spark.tables.merge import quote_ident as bq, type_ddl
    from jodie_spark.tables.table import column_defaults_of, generated_columns_of

    snap = t.snapshot()
    schema = t.schema(snap)
    identities = identity_columns_of(schema)
    generated = generated_columns_of(schema)
    defaults = column_defaults_of(schema)

    def sq(s: str) -> str:
        return str(s).replace("'", "''")  # SQL-standard '' escaping

    col_lines = []
    for f in schema.fields:
        # identifiers are backtick-quoted (a ` doubles) so names with
        # spaces/dashes/backticks stay runnable; type_ddl quotes nested
        # struct field names the same way and never case-mangles them
        line = f"  {bq(f.name)} {type_ddl(f.dataType)}"
        if f.name in identities:
            spec = identities[f.name]
            kind = "ALWAYS" if not spec.get("allow_explicit") else "BY DEFAULT"
            line += (
                f" GENERATED {kind} AS IDENTITY (START WITH "
                f"{spec.get('start', 1)} INCREMENT BY {spec.get('step', 1)})"
            )
        elif f.name in generated:
            line += f" GENERATED ALWAYS AS ({generated[f.name]})"
        elif f.name in defaults:
            line += f" DEFAULT {defaults[f.name]}"
        if not f.nullable:
            line += " NOT NULL"
        col_lines.append(line)
    out = [f"CREATE TABLE delta.{bq(t.path)} (", ",\n".join(col_lines), ")",
           "USING DELTA"]
    if snap.partition_columns:
        out.append(
            "PARTITIONED BY ("
            + ", ".join(bq(c) for c in snap.partition_columns)
            + ")"
        )
    try:
        cluster_cols = t.cluster_by()
    except Exception:
        cluster_cols = None
    if cluster_cols:
        out.append(
            "CLUSTER BY (" + ", ".join(bq(c) for c in cluster_cols) + ")"
        )
    cfg = dict(sorted(snap.configuration.items()))
    if cfg:
        props = ",\n  ".join(f"'{sq(k)}' = '{sq(v)}'" for k, v in cfg.items())
        out.append("TBLPROPERTIES (\n  " + props + ")")
    out.append(f"LOCATION '{sq(t.path)}'")
    return "\n".join(out)


def _rewrite_time_travel(spark: SparkSession, s: str) -> str:
    """delta-spark's ``t VERSION AS OF n`` / ``TIMESTAMP AS OF 'ts'``
    inside SELECTs: each occurrence becomes a temp view over the
    historical snapshot, substituted into the statement.

    View names are deterministic per (path, pin) — repeated time-travel
    queries reuse (re-create) the same view instead of leaking a fresh
    ``__tt_*`` view per query, and the substitution runs only over
    top-level unquoted segments so a ``VERSION AS OF`` inside a string
    literal is never rewritten."""
    import hashlib as _hashlib

    from jodie_spark.catalog import _REGISTRY
    from jodie_spark.tables.table import DeltaTable

    def sub(m: re.Match) -> str:
        path = m.group("path")
        if path is None:
            path = _REGISTRY.get(m.group("name"))
            if path is None:
                return m.group(0)  # not one of ours — leave for Catalyst
        t = DeltaTable.forPath(spark, path)
        if m.group("v") is not None:
            pin = f"v{int(m.group('v'))}"
            df = t.toDF(version=int(m.group("v")))
        else:
            pin = f"ts{m.group('ts')}"
            df = t.toDF(timestamp=m.group("ts"))
        view = "__tt_" + _hashlib.md5(f"{path}\x00{pin}".encode()).hexdigest()[:12]
        df.createOrReplaceTempView(view)
        return view

    # substitute only outside string literals (backticks stay in the
    # searchable text — the delta.`/path` ref form itself uses them)
    out: list[str] = []
    i, n = 0, len(s)
    seg_start = 0
    while i < n:
        if s[i] in "'\"":
            out.append(_TT_RE.sub(sub, s[seg_start:i]))
            j = _skip_quoted(s, i)
            out.append(s[i:j])
            i = j
            seg_start = i
        else:
            i += 1
    out.append(_TT_RE.sub(sub, s[seg_start:]))
    return "".join(out)


def _merge(spark: SparkSession, s: str) -> None:
    m = re.match(
        rf"(?is)^MERGE\s+(?P<evolve>WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\s+{_REF}"
        rf"\s*(?:AS\s+)?(?P<talias>[A-Za-z_]\w*)?\s+USING\s+",
        s,
    )
    if not m:
        raise JodieValidationError(f"cannot parse MERGE statement: {s!r}")
    t = _resolve(spark, m)
    talias = m.group("talias") or "t"
    evolve = bool(m.group("evolve"))
    rest = s[m.end() :]

    # source: (subquery) or a view/registered name
    if rest.lstrip().startswith("("):
        rest = rest.lstrip()
        depth, i = 0, 0
        for i, c in enumerate(rest):
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
        _refresh_views(spark)
        src_df = spark.sql(rest[1:i])
        rest = rest[i + 1 :]
    else:
        m2 = re.match(r"(?s)^\s*([\w.`]+)", rest)
        if not m2:
            raise JodieValidationError("cannot parse MERGE source")
        src_name = m2.group(1).strip("`")
        _refresh_views(spark)
        src_df = spark.table(src_name)
        rest = rest[m2.end() :]
    m3 = re.match(r"(?is)^\s*(?:AS\s+)?([A-Za-z_]\w*)?\s*ON\s+", rest)
    if not m3:
        raise JodieValidationError("cannot parse MERGE ON clause")
    salias = m3.group(1) or "s"
    rest = rest[m3.end() :]

    wi = _find_top_level(rest, "WHEN", skip_case=True)
    if wi < 0:
        raise JodieValidationError("MERGE requires at least one WHEN clause")
    cond = rest[:wi].strip()
    clauses_text = rest[wi:]

    builder = t.alias(talias).merge(src_df.alias(salias), cond)
    if evolve:
        builder = builder.withSchemaEvolution()
    # split into WHEN ... chunks at top level (skip_case: a CASE WHEN
    # inside an action expression must not start a new clause)
    chunks = []
    pos = 0
    while True:
        nxt = _find_top_level(clauses_text, "WHEN", pos + 1, skip_case=True)
        if nxt < 0:
            chunks.append(clauses_text[pos:])
            break
        chunks.append(clauses_text[pos:nxt])
        pos = nxt
    for chunk in chunks:
        c = re.match(
            r"(?is)^WHEN\s+(?P<not>NOT\s+)?MATCHED\s*"
            r"(?:BY\s+(?P<by>SOURCE|TARGET)\s*)?"
            r"(?:AND\s+(?P<cond>.+?))?\s*THEN\s+(?P<act>.+)$",
            chunk.strip(),
        )
        if not c:
            raise JodieValidationError(f"cannot parse MERGE clause: {chunk!r}")
        ccond = c.group("cond").strip() if c.group("cond") else None
        act = c.group("act").strip()
        by = (c.group("by") or "").upper()
        if by == "SOURCE":
            # WHEN NOT MATCHED BY SOURCE: acts on unmatched TARGET rows
            if not c.group("not"):
                raise JodieValidationError(
                    f"cannot parse MERGE clause (BY SOURCE needs NOT MATCHED): {chunk!r}"
                )
            if re.match(r"(?is)^DELETE\s*$", act):
                builder = builder.whenNotMatchedBySourceDelete(ccond)
                continue
            ub = re.match(r"(?is)^UPDATE\s+SET\s+(?P<sets>.+)$", act)
            if not ub or ub.group("sets").strip() == "*":
                raise JodieValidationError(
                    f"cannot parse NOT MATCHED BY SOURCE action (UPDATE SET "
                    f"<explicit assignments> or DELETE): {act!r}"
                )
            builder = builder.whenNotMatchedBySourceUpdate(
                condition=ccond, set=_parse_assignments(ub.group("sets"), talias)
            )
            continue
        if c.group("not"):
            ia = re.match(r"(?is)^INSERT\s*\*\s*$", act)
            if ia:
                builder = builder.whenNotMatchedInsertAll(ccond)
                continue
            iv = re.match(
                r"(?is)^INSERT\s*\((?P<cols>[^)]+)\)\s*VALUES\s*\((?P<vals>.+)\)\s*$",
                act,
            )
            if not iv:
                raise JodieValidationError(f"cannot parse INSERT action: {act!r}")
            cols = [
                _target_column(x, talias)
                for x in _split_top_level(iv.group("cols"), ",")
            ]
            vals = _split_top_level(iv.group("vals"), ",")
            if len(cols) != len(vals):
                raise JodieValidationError("INSERT column/value count mismatch")
            builder = builder.whenNotMatchedInsert(
                condition=ccond, values=dict(zip(cols, vals))
            )
        elif re.match(r"(?is)^DELETE\s*$", act):
            builder = builder.whenMatchedDelete(ccond)
        else:
            ua = re.match(r"(?is)^UPDATE\s+SET\s+(?P<sets>.+)$", act)
            if not ua:
                raise JodieValidationError(f"cannot parse MATCHED action: {act!r}")
            if ua.group("sets").strip() == "*":
                builder = builder.whenMatchedUpdateAll(ccond)
            else:
                builder = builder.whenMatchedUpdate(
                    condition=ccond, set=_parse_assignments(ua.group("sets"), talias)
                )
    builder.execute()
    return None


def _split_column_specs(s: str) -> list[str]:
    """Split a column-definition list on top-level commas, tracking
    BOTH () and <> depth (MAP<STRING, INT> has a comma inside angle
    brackets)."""
    out, buf, pdepth, adepth, i, n = [], [], 0, 0, 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"`":
            j = _skip_quoted(s, i)
            buf.append(s[i:j])
            i = j
            continue
        if c == "(":
            pdepth += 1
        elif c == ")":
            pdepth -= 1
        elif c == "<":
            adepth += 1
        elif c == ">":
            adepth = max(0, adepth - 1)
        if c == "," and pdepth == 0 and adepth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(c)
        i += 1
    out.append("".join(buf))
    return [p.strip() for p in out if p.strip()]


_COLSPEC_KEYWORDS = ("NOT", "GENERATED", "DEFAULT", "COMMENT")


def _parse_column_spec(spec: str):
    """One column definition → (name, type_str, nullable, identity_spec,
    generated_expr, default_expr)."""
    mm = re.match(r"^\s*(?:`(?P<q>[^`]+)`|(?P<p>\w+))\s+(?P<rest>.+)$", spec, re.S)
    if not mm:
        raise JodieValidationError(f"cannot parse column definition: {spec!r}")
    name = mm.group("q") or mm.group("p")
    rest = mm.group("rest")
    # the type runs until the first top-level constraint keyword
    cut = len(rest)
    for kw in _COLSPEC_KEYWORDS:
        i = _find_top_level(rest, kw)
        if 0 <= i < cut:
            cut = i
    type_str = rest[:cut].strip()
    tail = rest[cut:].strip()
    if not type_str:
        raise JodieValidationError(f"column {name!r} is missing a type: {spec!r}")

    nullable = True
    identity = None
    generated = None
    default = None
    while tail:
        m = re.match(r"(?is)^NOT\s+NULL\b\s*(?P<t>.*)$", tail)
        if m:
            nullable = False
            tail = m.group("t").strip()
            continue
        m = re.match(
            r"(?is)^GENERATED\s+(?P<kind>ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY"
            r"\s*(?:\(\s*(?:START\s+WITH\s+(?P<start>-?\d+))?\s*"
            r"(?:INCREMENT\s+BY\s+(?P<step>-?\d+))?\s*\))?\s*(?P<t>.*)$",
            tail,
        )
        if m:
            identity = {
                "start": int(m.group("start") or 1),
                "step": int(m.group("step") or 1),
                "allow_explicit": m.group("kind").upper() != "ALWAYS",
            }
            tail = m.group("t").strip()
            continue
        m = re.match(r"(?is)^GENERATED\s+ALWAYS\s+AS\s*\(", tail)
        if m:
            start = m.end() - 1
            depth, j = 0, start
            while j < len(tail):
                if tail[j] in "'\"`":
                    j = _skip_quoted(tail, j)
                    continue
                if tail[j] == "(":
                    depth += 1
                elif tail[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            generated = tail[start + 1 : j].strip()
            tail = tail[j + 1 :].strip()
            continue
        m = re.match(r"(?is)^DEFAULT\s+(?P<t>.+)$", tail, re.S)
        if m:
            # the default expression runs to the next constraint keyword
            body = m.group("t")
            cut2 = len(body)
            for kw in ("NOT", "COMMENT", "GENERATED"):
                i = _find_top_level(body, kw)
                if 0 <= i < cut2:
                    cut2 = i
            default = body[:cut2].strip()
            tail = body[cut2:].strip()
            continue
        m = re.match(r"(?is)^COMMENT\s+'(?:[^']|'')*'\s*(?P<t>.*)$", tail)
        if m:
            tail = m.group("t").strip()  # comments accepted, not persisted
            continue
        raise JodieValidationError(
            f"cannot parse column constraint for {name!r}: {tail!r}"
        )
    return name, type_str, nullable, identity, generated, default


def _create_with_columns(spark: SparkSession, m: re.Match):
    """CREATE TABLE with column-level DDL routed onto the native writer
    features (identity / generated / default columns, NOT NULL,
    partitioning, liquid clustering, table properties)."""
    from pyspark.sql import types as T

    from jodie_spark.catalog import register_delta_table
    from jodie_spark.tables.table import write_delta

    tail = m.group("tail") or ""
    loc2 = re.search(r"(?is)\bLOCATION\s+'(?P<loc>[^']+)'", tail)
    path = m.group("path") or m.group("loc1") or (loc2 and loc2.group("loc"))
    if path is None:
        raise JodieValidationError(
            "CREATE TABLE needs a location: delta.`/path` or LOCATION '/path'"
        )
    mp = re.search(r"(?is)\bPARTITIONED\s+BY\s*\((?P<c>[^)]+)\)", tail)
    mc = re.search(r"(?is)\bCLUSTER\s+BY\s*\((?P<c>[^)]+)\)", tail)
    mt = re.search(r"(?is)\bTBLPROPERTIES\s*\((?P<p>.+?)\)\s*(?:LOCATION\b.*)?$", tail)
    properties: dict[str, str] = {}
    if mt:
        for kv in _split_top_level(mt.group("p"), ","):
            km = re.match(
                r"(?s)^\s*'(?P<k>(?:[^']|'')+)'\s*=\s*'(?P<v>(?:[^']|'')*)'\s*$",
                kv,
            )
            if not km:
                raise JodieValidationError(f"cannot parse TBLPROPERTIES entry: {kv!r}")
            # SQL-standard ''-doubling (SHOW CREATE TABLE emits it)
            properties[km.group("k").replace("''", "'")] = km.group("v").replace(
                "''", "'"
            )

    fields = []
    identity_columns: dict[str, dict] = {}
    generated_columns: dict[str, str] = {}
    column_defaults: dict[str, str] = {}
    for spec in _split_column_specs(m.group("cols")):
        name, type_str, nullable, identity, generated, default = _parse_column_spec(
            spec
        )
        dtype = T._parse_datatype_string(type_str)
        fields.append(T.StructField(name, dtype, nullable))
        if identity is not None:
            identity_columns[name] = identity
        if generated is not None:
            generated_columns[name] = generated
        if default is not None:
            column_defaults[name] = default

    schema = T.StructType(fields)
    df = spark.createDataFrame([], schema)
    # CREATE OR REPLACE: overwrite data AND schema in one commit —
    # history survives (delta parity), unlike drop-and-recreate
    if m.groupdict().get("orr"):
        exists_mode = "overwrite"
        properties = {**properties, "overwriteSchema": "true"}
    else:
        exists_mode = "ignore" if m.group("ine") else "error"
    write_delta(
        df,
        path,
        mode=exists_mode,
        partition_by=(
            [c.strip().strip("`") for c in mp.group("c").split(",")] if mp else None
        ),
        cluster_by=(
            [c.strip().strip("`") for c in mc.group("c").split(",")] if mc else None
        ),
        options=properties or None,
        identity_columns=identity_columns or None,
        generated_columns=generated_columns or None,
        column_defaults=column_defaults or None,
        # the relation is a literal empty LocalRelation — let the writer
        # commit metadata-only instead of running three no-op Spark jobs
        known_empty=True,
    )
    if m.group("name"):
        register_delta_table(spark, m.group("name"), path)
    return None
