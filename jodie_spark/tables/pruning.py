"""Data skipping: evaluate SQL predicates against the log's per-file
metadata (partition values + min/max/null-count stats) — no data read.

This rebuilds what the reference surfaces through Delta's internal
``OptimisticTransaction.filterFiles`` / ``Snapshot.filesWithStatsForScan``
(reference DeltaHelpers.scala:109-194): split a condition into
conjuncts, classify each (min-max / equality / other / unresolved), and
count/select the files that survive stats-based skipping.

The evaluator is intentionally conservative: a file is pruned only when
its stats *prove* no row can match; unsupported conjuncts (LIKE, ORs,
functions) keep every file — identical to Delta's skipping contract.

Scale note: :func:`file_may_match` is the per-add authority. Bulk
pruning runs it behind a vectorized pre-mask
(``pruning_arrow.exact_keep_mask``), either on the driver over the
columnar log state or inside Spark tasks over ``distribution.files_df``
for multi-million-file tables — one proof on both sides.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import types as T

MIN_MAX_OPS = {">", ">=", "<", "<="}
EQUALITY_OPS = {"=", "==", "<=>"}


# ---------------------------------------------------------------------------
# conjunct splitting / parsing
# ---------------------------------------------------------------------------

def _split_top_level(condition: str, word: str) -> list[str]:
    """Split on a top-level boolean keyword (" and " / " or "),
    respecting parentheses and quotes; for AND, each BETWEEN in the
    accumulated token claims exactly one following AND (it belongs to
    the predicate, not the conjunction)."""
    out: list[str] = []
    depth = 0
    in_quote: str | None = None
    token = []
    i = 0
    s = condition
    sep = f" {word} "
    wl = len(sep)
    while i < len(s):
        ch = s[i]
        if in_quote:
            token.append(ch)
            if ch == in_quote:
                in_quote = None
            i += 1
            continue
        if ch in ("'", '"'):
            in_quote = ch
            token.append(ch)
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0 and s[i : i + wl].lower() == sep:
            tok = "".join(token)
            if word == "and":
                stripped = re.sub(r"'[^']*'|\"[^\"]*\"", " ", tok)
                n_between = len(
                    re.findall(r"\bbetween\b", stripped, re.IGNORECASE)
                )
                n_and = len(re.findall(r"\band\b", stripped, re.IGNORECASE))
                if n_between > n_and:
                    token.append(s[i : i + wl])
                    i += wl
                    continue
            out.append(tok.strip())
            token = []
            i += wl
            continue
        token.append(ch)
        i += 1
    tail = "".join(token).strip()
    if tail:
        out.append(tail)
    return [_strip_outer_parens(c) for c in out if c]


def split_conjuncts(condition: str) -> list[str]:
    """Split on top-level AND, respecting parentheses, quotes, and SQL
    PRECEDENCE: AND binds tighter than OR, so ``x and y or z`` parses
    as ``(x and y) or z`` — a single disjunctive conjunct, NOT a
    conjunction with ``x`` required. Splitting such an expression at
    its ANDs would let the evaluator prune on a piece only one OR
    branch requires (silently skipping files whose rows match via the
    other branch). When a top-level OR is present the whole expression
    is returned as one conjunct; the OR-aware evaluators split it
    themselves, and the flat path conservatively keeps every file.

    Parity: splitConjunctivePredicates (reference DeltaHelpers.scala:156-162).
    """
    if len(_split_top_level(condition, "or")) > 1:
        return [_strip_outer_parens(condition)]
    return _split_top_level(condition, "and")


def _strip_outer_parens(s: str) -> str:
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        balanced = True
        for idx, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and idx != len(s) - 1:
                    balanced = False
                    break
        if balanced:
            s = s[1:-1].strip()
        else:
            break
    return s


_CMP_RE = re.compile(
    r"^([A-Za-z_][\w.]*)\s*(<=>|<=|>=|==|!=|<>|=|<|>)\s*(.+?)$", re.DOTALL
)
_CMP_REV_RE = re.compile(
    r"^(.+?)\s*(<=>|<=|>=|==|!=|<>|=|<|>)\s*([A-Za-z_][\w.]*)$", re.DOTALL
)
_NULL_RE = re.compile(r"^([A-Za-z_][\w.]*)\s+is\s+(not\s+)?null$", re.IGNORECASE)
_IN_RE = re.compile(
    r"^([A-Za-z_][\w.]*)\s+in\s*\((.+)\)$", re.IGNORECASE | re.DOTALL
)
_NOT_IN_RE = re.compile(
    r"^([A-Za-z_][\w.]*)\s+not\s+in\s*\((.+)\)$", re.IGNORECASE | re.DOTALL
)
_SWAP = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}
_BETWEEN_RE = re.compile(
    r"^([A-Za-z_][\w.]*)\s+between\s+(.+?)\s+and\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_LIKE_RE = re.compile(
    r"^([A-Za-z_][\w.]*)\s+like\s+('[^']*')\s*$", re.IGNORECASE
)


def _prefix_upper(prefix: str) -> str | None:
    """Smallest string greater than every string with this prefix
    (last non-maximal character incremented, trailing maxima dropped);
    None when no such bound exists."""
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i]) + 1
        if 0xD800 <= cp <= 0xDFFF:
            cp = 0xE000  # skip surrogates: unencodable, never in data
        if cp <= 0x10FFFF:
            return prefix[:i] + chr(cp)
    return None


@dataclass
class Conjunct:
    raw: str
    # 'minmax' | 'equality' | 'not_equality' | 'in' | 'not_in' |
    # 'between' | 'like_prefix' | 'other' | 'unresolved'
    kind: str
    column: str | None = None
    op: str | None = None
    literal: Any = None  # python-typed literal when parseable
    references: tuple[str, ...] = ()


def _parse_literal(text: str) -> tuple[bool, Any]:
    text = text.strip()
    if len(text) >= 2 and text[0] in ("'", '"') and text[-1] == text[0]:
        inner = text[1:-1]
        # Must be a SINGLE literal token: any quote char inside means the
        # regex over-captured (e.g. rhs = "'x' or b = 'y'") or the literal
        # uses doubled-quote escapes ('it''s') — bail, never mis-prune.
        if text[0] in inner:
            return False, None
        return True, inner
    low = text.lower()
    if low in ("true", "false"):
        return True, low == "true"
    if low == "null":
        return True, None
    m = re.match(r"^(date|timestamp)\s*'([^']*)'$", text, re.IGNORECASE)
    if m:
        return True, m.group(2)
    try:
        return True, int(text)
    except ValueError:
        pass
    try:
        return True, float(text)
    except ValueError:
        return False, None


def _split_in_list(body: str) -> list[str] | None:
    """Split an IN-list body on top-level commas (quote/paren aware).
    Returns None when the body contains nested parens or unbalanced
    quotes — the conservative bail-out (conjunct becomes 'other')."""
    out: list[str] = []
    token: list[str] = []
    in_quote: str | None = None
    for ch in body:
        if in_quote:
            token.append(ch)
            if ch == in_quote:
                in_quote = None
            continue
        if ch in ("'", '"'):
            in_quote = ch
            token.append(ch)
            continue
        if ch in "()":
            return None  # subquery / nested expression — not a literal list
        if ch == ",":
            out.append("".join(token).strip())
            token = []
            continue
        token.append(ch)
    if in_quote:
        return None
    tail = "".join(token).strip()
    if tail:
        out.append(tail)
    return [t for t in out if t] or None


def _referenced_names(text: str) -> list[str]:
    """Identifier-looking tokens (minus keywords/literals) in a conjunct."""
    names = re.findall(r"[A-Za-z_][\w.]*", re.sub(r"'[^']*'", "", text))
    keywords = {
        "and", "or", "not", "is", "null", "like", "in", "true", "false",
        "between", "rlike", "date", "timestamp", "cast", "as",
    }
    return [n for n in names if n.lower() not in keywords]


def _contains_bare_or(text: str) -> bool:
    """True when an OR keyword appears outside quoted string literals.

    Any OR (top-level or parenthesized) disqualifies the conjunct from
    the single-comparison classes — the comparison regexes would
    otherwise over-capture ("a = 'x' or b = 'y'" → equality on a with a
    garbage literal) and prune files that DO contain matching rows.
    """
    in_quote: str | None = None
    for i, ch in enumerate(text):
        if in_quote:
            if ch == in_quote:
                in_quote = None
            continue
        if ch in ("'", '"'):
            in_quote = ch
            continue
        if ch in ("o", "O") and text[i : i + 2].lower() == "or":
            before = text[i - 1] if i > 0 else " "
            after = text[i + 2] if i + 2 < len(text) else " "
            if not (before.isalnum() or before in "_.") and not (
                after.isalnum() or after in "_."
            ):
                return True
    return False


def classify_conjunct(conjunct: str, columns: list[str]) -> Conjunct:
    """Classify one conjunct the way the reference does
    (DeltaHelpers.scala:149-191): references outside the table's columns
    ⇒ unresolved; >,>=,<,<= ⇒ minmax; =,<=> ⇒ equality; rest ⇒ other.

    A dotted reference (``alias.col``) never resolves against a bare
    table plan — matching the reference's observed behavior on merge
    conditions like ``snapshot.id = update.id``.
    """
    refs = _referenced_names(conjunct)
    unresolved = [r for r in refs if "." in r or r not in columns]

    if _contains_bare_or(conjunct):
        if unresolved:
            return Conjunct(conjunct, "unresolved", references=tuple(refs))
        return Conjunct(conjunct, "other", references=tuple(refs))

    m = _NULL_RE.match(conjunct)
    if m:
        col = m.group(1)
        if col in unresolved:
            return Conjunct(conjunct, "unresolved", references=tuple(refs))
        op = "is not null" if m.group(2) else "is null"
        return Conjunct(conjunct, "other", column=col, op=op, references=tuple(refs))

    m = _IN_RE.match(conjunct)
    if m:
        col, body = m.group(1), m.group(2)
        if col in unresolved or "." in col:
            return Conjunct(conjunct, "unresolved", references=tuple(refs))
        values = _split_in_list(body)
        if values is not None:
            parsed_vals = []
            for v in values:
                ok, lit = _parse_literal(v)
                if not ok:
                    parsed_vals = None
                    break
                parsed_vals.append(lit)
            if parsed_vals:  # non-empty, all literals
                return Conjunct(
                    conjunct, "in", column=col, op="in",
                    literal=parsed_vals, references=tuple(refs),
                )
        return Conjunct(conjunct, "other", column=col, references=tuple(refs))

    m = _NOT_IN_RE.match(conjunct)
    if m:
        col, body = m.group(1), m.group(2)
        if col in unresolved or "." in col:
            return Conjunct(conjunct, "unresolved", references=tuple(refs))
        values = _split_in_list(body)
        if values is not None:
            parsed_vals = []
            for v in values:
                ok, lit = _parse_literal(v)
                if not ok or lit is None:
                    # a NULL member makes NOT IN match nothing at all;
                    # leave that degenerate case to the row filter
                    parsed_vals = None
                    break
                parsed_vals.append(lit)
            if parsed_vals:
                return Conjunct(
                    conjunct, "not_in", column=col, op="not in",
                    literal=parsed_vals, references=tuple(refs),
                )
        return Conjunct(conjunct, "other", column=col, references=tuple(refs))

    m = _BETWEEN_RE.match(conjunct)
    if m:
        col, lo_raw, hi_raw = m.group(1), m.group(2), m.group(3)
        if col in unresolved or "." in col:
            return Conjunct(conjunct, "unresolved", references=tuple(refs))
        ok_lo, lo = _parse_literal(lo_raw)
        ok_hi, hi = _parse_literal(hi_raw)
        if ok_lo and ok_hi and lo is not None and hi is not None:
            return Conjunct(
                conjunct, "between", column=col, op="between",
                literal=(lo, hi), references=tuple(refs),
            )
        return Conjunct(conjunct, "other", column=col, references=tuple(refs))
    if re.match(r"^[A-Za-z_][\w.]*\s+not\s+between\b", conjunct, re.IGNORECASE):
        # NOT BETWEEN: a disjunction (< lo OR > hi) — no conjunct-level
        # min/max proof, keep every file
        return Conjunct(conjunct, "other", references=tuple(refs))

    m = _LIKE_RE.match(conjunct)
    if m:
        col = m.group(1)
        if col in unresolved or "." in col:
            return Conjunct(conjunct, "unresolved", references=tuple(refs))
        ok, pat = _parse_literal(m.group(2))
        if ok and isinstance(pat, str):
            if not re.search(r"[%_\\]", pat):
                # no wildcard: LIKE 'abc' ≡ equality
                return Conjunct(
                    conjunct, "equality", column=col, op="=",
                    literal=pat, references=tuple(refs),
                )
            pm = re.match(r"^([^%_\\]+)%$", pat)
            if pm:
                return Conjunct(
                    conjunct, "like_prefix", column=col, op="like",
                    literal=pm.group(1), references=tuple(refs),
                )
        return Conjunct(conjunct, "other", column=col, references=tuple(refs))

    parsed = None
    m = _CMP_RE.match(conjunct)
    if m:
        col, op, rhs = m.group(1), m.group(2), m.group(3)
        ok, lit = _parse_literal(rhs)
        if ok:
            parsed = (col, op, lit)
    if parsed is None:
        m = _CMP_REV_RE.match(conjunct)
        if m:
            lhs, op, col = m.group(1), m.group(2), m.group(3)
            ok, lit = _parse_literal(lhs)
            if ok:
                parsed = (col, _SWAP.get(op, op), lit)

    if parsed is None:
        if unresolved:
            return Conjunct(conjunct, "unresolved", references=tuple(refs))
        return Conjunct(conjunct, "other", references=tuple(refs))

    col, op, lit = parsed
    if col in unresolved or "." in col:
        return Conjunct(conjunct, "unresolved", references=tuple(refs))
    if op in ("=", "==", "<=>"):
        kind = "equality"
    elif op in MIN_MAX_OPS:
        kind = "minmax"
    elif op in ("!=", "<>") and lit is not None:
        # col != lit prunes single-value files: a file whose every row
        # equals lit (or is NULL — != on NULL is NULL, never matched)
        # provably has no matching row
        kind, op = "not_equality", "!="
    else:
        kind = "other"
    return Conjunct(conjunct, kind, column=col, op=op, literal=lit, references=tuple(refs))


# ---------------------------------------------------------------------------
# typed comparison against stats strings
# ---------------------------------------------------------------------------

def _parse_temporal(value: Any, want_date: bool) -> Any:
    """Parse a literal or stat string into a comparable datetime/date.

    Stats store timestamps as isoformat with microsecond padding
    ('2020-01-01T00:00:00.000000') while SQL literals arrive without it
    ('2020-01-01 00:00:00'); comparing the raw strings lexically proves
    false inequalities, so both sides are parsed into real objects.
    Returns None (⇒ no pruning on this conjunct) when unparseable.
    """
    import datetime as _dt

    if isinstance(value, _dt.datetime):
        parsed: _dt.datetime | _dt.date = value
    elif isinstance(value, _dt.date):
        parsed = value
    else:
        text = str(value).strip().replace(" ", "T")
        try:
            parsed = _dt.datetime.fromisoformat(text)
        except ValueError:
            try:
                parsed = _dt.date.fromisoformat(text)
            except ValueError:
                return None
    if want_date:
        return parsed.date() if isinstance(parsed, _dt.datetime) else parsed
    if not isinstance(parsed, _dt.datetime):
        parsed = _dt.datetime.combine(parsed, _dt.time.min)
    if parsed.tzinfo is not None:  # normalize to naive UTC like the stats
        parsed = parsed.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return parsed


def _coerce(value: Any, dtype: T.DataType) -> Any:
    if value is None:
        return None
    try:
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(value)
        if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
            return float(value)
        if isinstance(dtype, T.BooleanType):
            if isinstance(value, bool):
                return value
            return str(value).lower() == "true"
        if isinstance(dtype, T.DateType):
            return _parse_temporal(value, want_date=True)
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            return _parse_temporal(value, want_date=False)
        return str(value)
    except (ValueError, TypeError):
        return None


def _cmp(op: str, left: Any, right: Any) -> bool | None:
    if left is None or right is None:
        return None
    try:
        if op in ("=", "==", "<=>"):
            return left == right
        if op == ">":
            return left > right
        if op == ">=":
            return left >= right
        if op == "<":
            return left < right
        if op == "<=":
            return left <= right
    except TypeError:
        return None
    return None


def file_may_match(
    add: dict[str, Any],
    conjuncts: list[Conjunct],
    schema: T.StructType,
    partition_columns: list[str],
) -> bool:
    """True unless stats prove the file contains no matching row."""
    field_types = {f.name: f.dataType for f in schema.fields}
    stats = None
    raw = add.get("stats")
    if raw:
        try:
            stats = json.loads(raw) if isinstance(raw, str) else raw
        except json.JSONDecodeError:
            stats = None

    for cj in conjuncts:
        if cj.kind in ("unresolved",):
            continue  # can't skip on it
        col, op = cj.column, cj.op
        if col is None or col not in field_types:
            continue
        dtype = field_types[col]

        if cj.kind == "in":
            vals = [v for v in (_coerce(x, dtype) for x in cj.literal) if v is not None]
            if not vals:
                continue  # un-coercible list — keep the file
            if col in partition_columns:
                # only prune when every literal coerced — a dropped
                # literal could be the matching one
                if len(vals) != len(cj.literal):
                    continue
                raw_pv = (add.get("partitionValues") or {}).get(col)
                if raw_pv is None:
                    return False  # NULL partition value never satisfies IN
                pv = _coerce(raw_pv, dtype)
                if pv is None:
                    continue  # present but un-coercible (foreign
                    # serialization) — keep the file, don't treat as NULL
                if all(_cmp("=", pv, v) is False for v in vals):
                    return False
                continue
            if stats is None:
                continue
            mn = _coerce((stats.get("minValues") or {}).get(col), dtype)
            mx = _coerce((stats.get("maxValues") or {}).get(col), dtype)
            # the file may match only if SOME listed value falls inside
            # [min, max] (null rows never satisfy IN, so stats on the
            # non-null values are decisive); only prune when every
            # literal was coercible, else the check is incomplete
            possible = any(
                not (
                    (mn is not None and _cmp("<", v, mn))
                    or (mx is not None and _cmp(">", v, mx))
                )
                for v in vals
            )
            if not possible and len(vals) == len(cj.literal):
                return False
            continue

        if cj.kind in ("not_equality", "not_in"):
            lits = (
                [_coerce(cj.literal, dtype)]
                if cj.kind == "not_equality"
                else [_coerce(v, dtype) for v in cj.literal]
            )
            if any(v is None for v in lits):
                continue  # un-coercible — keep the file
            if col in partition_columns:
                raw_pv = (add.get("partitionValues") or {}).get(col)
                if raw_pv is None:
                    return False  # NULL != / NOT IN is NULL, never matched
                pv = _coerce(raw_pv, dtype)
                if pv is None:
                    continue  # un-coercible, not NULL — keep the file
                if any(_cmp("=", pv, v) is True for v in lits):
                    return False  # every row carries the excluded value
                continue
            if stats is None:
                continue
            num_records = stats.get("numRecords")
            null_count = (stats.get("nullCount") or {}).get(col)
            if (
                null_count is not None
                and num_records is not None
                and int(null_count) == int(num_records)
            ):
                return False  # all NULL: the predicate is never true
            mn = _coerce((stats.get("minValues") or {}).get(col), dtype)
            mx = _coerce((stats.get("maxValues") or {}).get(col), dtype)
            if (
                mn is not None
                and mx is not None
                and _cmp("=", mn, mx) is True
                and any(_cmp("=", mn, v) is True for v in lits)
            ):
                # every non-null row equals an excluded literal, and
                # NULL rows never satisfy != / NOT IN either
                return False
            continue

        if cj.kind == "between":
            lo = _coerce(cj.literal[0], dtype)
            hi = _coerce(cj.literal[1], dtype)
            if col in partition_columns:
                raw_pv = (add.get("partitionValues") or {}).get(col)
                if raw_pv is None:
                    return False  # NULL is never BETWEEN
                pv = _coerce(raw_pv, dtype)
                if pv is None:
                    continue  # un-coercible, not NULL — keep the file
                if (lo is not None and _cmp("<", pv, lo)) or (
                    hi is not None and _cmp(">", pv, hi)
                ):
                    return False
                continue
            if stats is None:
                continue
            mn = _coerce((stats.get("minValues") or {}).get(col), dtype)
            mx = _coerce((stats.get("maxValues") or {}).get(col), dtype)
            if hi is not None and mn is not None and _cmp(">", mn, hi):
                return False
            if lo is not None and mx is not None and _cmp("<", mx, lo):
                return False
            continue

        if cj.kind == "like_prefix":
            if not isinstance(dtype, T.StringType):
                continue
            prefix: str = cj.literal
            upper = _prefix_upper(prefix)
            # matching strings live in [prefix, upper) — a pure range
            # proof, same as delta's StartsWith data-skipping predicate
            if col in partition_columns:
                pv = (add.get("partitionValues") or {}).get(col)
                if pv is None:
                    return False  # NULL LIKE ... is never true
                if pv < prefix or (upper is not None and pv >= upper):
                    return False
                continue
            if stats is None:
                continue
            mn = (stats.get("minValues") or {}).get(col)
            mx = (stats.get("maxValues") or {}).get(col)
            if mx is not None and str(mx) < prefix:
                return False
            if upper is not None and mn is not None and str(mn) >= upper:
                return False
            continue

        lit = _coerce(cj.literal, dtype)

        if col in partition_columns:
            pv = (add.get("partitionValues") or {}).get(col)
            val = _coerce(pv, dtype)
            if op == "is null":
                if pv is not None:
                    return False  # value present (even if un-coercible)
                continue
            if op == "is not null":
                if pv is None:
                    return False
                continue
            if op == "<=>" and cj.literal is None:
                if val is not None:
                    return False
                continue
            if val is None or lit is None:
                # null partition value can't satisfy a non-null
                # comparison — but only when the raw value is truly
                # NULL, not merely un-coercible (foreign serialization)
                if pv is None and lit is not None and op in EQUALITY_OPS | MIN_MAX_OPS:
                    return False
                continue
            verdict = _cmp(op, val, lit)
            if verdict is False:
                return False
            continue

        if stats is None:
            continue
        num_records = stats.get("numRecords")
        null_count = (stats.get("nullCount") or {}).get(col)
        mn = _coerce((stats.get("minValues") or {}).get(col), dtype)
        mx = _coerce((stats.get("maxValues") or {}).get(col), dtype)

        if op == "is null":
            if null_count is not None and int(null_count) == 0:
                return False
            continue
        if op == "is not null":
            if (
                null_count is not None
                and num_records is not None
                and int(null_count) == int(num_records)
            ):
                return False
            continue
        if lit is None:
            continue
        verdict: bool | None = None
        if op in EQUALITY_OPS:
            if mn is not None and _cmp("<", lit, mn):
                verdict = False
            if mx is not None and _cmp(">", lit, mx):
                verdict = False
        elif op == ">":
            if mx is not None and not _cmp(">", mx, lit):
                verdict = False
        elif op == ">=":
            if mx is not None and not _cmp(">=", mx, lit):
                verdict = False
        elif op == "<":
            if mn is not None and not _cmp("<", mn, lit):
                verdict = False
        elif op == "<=":
            if mn is not None and not _cmp("<=", mn, lit):
                verdict = False
        if verdict is False:
            return False
    return True


_MAX_SKIP_TREE_DEPTH = 20


def build_skip_tree(condition: str, columns: list[str], depth: int = 0):
    """The classified AND/OR leaf tree both evaluators share — the flat
    per-add Python predicate below and the vectorized arrow mask
    (pruning_arrow.arrow_keep_mask). ONE builder, so the two can never
    disagree on classification or precedence. Nodes are ``("and"|"or",
    children)`` or ``("leaf", Conjunct)``; None means always-may-match
    (pathological nesting)."""
    if depth > _MAX_SKIP_TREE_DEPTH:
        return None
    nodes: list[Any] = []
    for c in split_conjuncts(condition):
        ds = _split_top_level(c, "or")
        if len(ds) > 1:
            nodes.append(("or", [build_skip_tree(d, columns, depth + 1) for d in ds]))
        else:
            nodes.append(("leaf", classify_conjunct(c, columns)))
    return ("and", nodes)


def compile_skipping_predicate(
    condition: str,
    schema: T.StructType,
    partition_columns: list[str],
):
    """Compile ``condition`` into ``pred(add) -> bool`` over an AND/OR
    tree of classified leaves — the recursive shape delta's
    DataSkippingReader evaluates, so disjunctions prune too: a file
    survives an OR only if SOME branch may match it ((day = X OR
    day = Y) skips every other partition; the old flat-conjunct path
    kept all). Leaves reuse :func:`file_may_match`; anything
    unclassifiable stays conservative. Classification happens ONCE at
    compile time, and a pure conjunction (no OR anywhere) collapses to
    a single leaf list so stats parse once per file, exactly the old
    fast path."""
    columns = [f.name for f in schema.fields]
    tree = build_skip_tree(condition, columns)

    def flat_leaves(node):
        """Leaf list when the tree is a pure conjunction, else None."""
        if node is None:
            return None
        tag, payload = node
        if tag == "leaf":
            return [payload]
        if tag == "or":
            return None
        out = []
        for n in payload:
            sub = flat_leaves(n)
            if sub is None:
                return None
            out.extend(sub)
        return out

    flat = flat_leaves(tree)
    if flat is not None:
        return lambda add: file_may_match(add, flat, schema, partition_columns)

    def ev(node, add) -> bool:
        if node is None:
            return True
        tag, payload = node
        if tag == "and":
            return all(ev(n, add) for n in payload)
        if tag == "or":
            return any(ev(n, add) for n in payload)
        return file_may_match(add, [payload], schema, partition_columns)

    def pred(add):
        raw = add.get("stats")
        if isinstance(raw, str):
            # parse ONCE per file: the tree evaluates one leaf per
            # file_may_match call, which would otherwise re-parse the
            # stats JSON for every leaf
            try:
                add = {**add, "stats": json.loads(raw)}
            except json.JSONDecodeError:
                add = {**add, "stats": None}
        return ev(tree, add)

    return pred


def prune_files(
    adds: list[dict[str, Any]],
    condition: str | None,
    schema: T.StructType,
    partition_columns: list[str],
) -> list[dict[str, Any]]:
    """Files that may contain rows matching ``condition`` (None ⇒ all)."""
    if not condition:
        return list(adds)
    pred = compile_skipping_predicate(condition, schema, partition_columns)
    return [a for a in adds if pred(a)]


def make_read_checker(
    condition: str | None,
    schema: T.StructType,
    partition_columns: list[str],
):
    """Record a transaction's READ SET as a predicate over add actions.

    Returns ``checker(add) -> bool``: True when a scan filtered by
    ``condition`` could have read the file (same conservative stats /
    partition evaluation as :func:`compile_skipping_predicate`, so a
    file is excluded only when its stats *prove* no row matches).
    ``None`` condition means the transaction read the whole table —
    every add matches. ``DeltaLog.commit`` evaluates this against the
    AddFiles of commits that win the version race to raise
    ``ConcurrentAppendException`` exactly when delta-core's
    ConflictChecker would (readPredicates vs winning-commit adds)."""
    if not condition:
        return lambda add: True
    return compile_skipping_predicate(condition, schema, partition_columns)


# ---------------------------------------------------------------------------
# generated-column partition filters (delta OptimizeGeneratedColumn parity)
# ---------------------------------------------------------------------------
# A table partitioned by a GENERATED column (day = CAST(ts AS DATE),
# month = DATE_TRUNC('MONTH', ts), yr = YEAR(ts), pfx = SUBSTRING(k, 1,
# n)) is queried with predicates on the BASE column; without rewriting,
# partition pruning sees no conjunct on the partition column and scans
# everything. delta-core's OptimizeGeneratedColumn derives the implied
# partition predicate for a whitelist of MONOTONIC generation shapes;
# this reproduces that derivation driver-side so DML planning (and the
# read-set conflict checker that reuses the same condition) prunes
# time-partitioned tables from timestamp predicates alone. Only
# implications that are provably sound are emitted:
#   col >= L  ⟹  f(col) >= f(L)      (f monotone non-decreasing)
#   col >  L  ⟹  f(col) >= f(L)      (note: >=, not >)
#   col <= U  ⟹  f(col) <= f(U)
#   col <  U  ⟹  f(col) <= f(U)
#   col =  V  ⟹  f(col) =  f(V);  col IN (..) ⟹ f(col) IN (f(..))
# Anything unrecognized or unparseable adds nothing (never mis-prunes).

_GEN_CAST_DATE_RE = re.compile(
    r"^\s*CAST\s*\(\s*`?(\w+)`?\s+AS\s+DATE\s*\)\s*$", re.IGNORECASE
)
_GEN_DATE_FN_RE = re.compile(
    r"^\s*(?:DATE|TO_DATE)\s*\(\s*`?(\w+)`?\s*\)\s*$", re.IGNORECASE
)
_GEN_TRUNC_RE = re.compile(
    r"^\s*DATE_TRUNC\s*\(\s*'(\w+)'\s*,\s*`?(\w+)`?\s*\)\s*$", re.IGNORECASE
)
_GEN_YEAR_RE = re.compile(r"^\s*YEAR\s*\(\s*`?(\w+)`?\s*\)\s*$", re.IGNORECASE)
# non-monotonic single-field extracts: month(ts)=3 for March of EVERY
# year — only EQUALITY/IN implications are sound (delta's
# OptimizeGeneratedColumn has the same restriction outside its
# year+month combo handling)
_GEN_FIELD_RE = re.compile(
    r"^\s*(MONTH|DAY|DAYOFMONTH|HOUR)\s*\(\s*`?(\w+)`?\s*\)\s*$", re.IGNORECASE
)
# date_format with a PREFIX-ORDERED pattern is monotonic in the string
# order the partition values compare under. The PATTERN alternation is
# deliberately CASE-SENSITIVE ((?i:) scopes only the function name):
# Java patterns are case-semantic — 'mm' is minutes, 'DD' day-of-year,
# 'hh' a 12-hour clock — so 'YYYY-MM' or 'yyyy-mm-dd' must NOT match
# (they would derive unsound conjuncts or crash the transform)
_GEN_FORMAT_RE = re.compile(
    r"^\s*(?i:DATE_FORMAT)\s*\(\s*`?(\w+)`?\s*,\s*'(yyyy-MM-dd-HH|yyyy-MM-dd|yyyy-MM)'\s*\)\s*$"
)
_GEN_TRUNC_FN_RE = re.compile(
    r"^\s*TRUNC\s*\(\s*`?(\w+)`?\s*,\s*'(year|yyyy|yy|month|mon|mm)'\s*\)\s*$",
    re.IGNORECASE,
)
_GEN_PREFIX_RE = re.compile(
    r"^\s*SUBSTR(?:ING)?\s*\(\s*`?(\w+)`?\s*,\s*1\s*,\s*(\d+)\s*\)\s*$",
    re.IGNORECASE,
)


def _parse_generation(expr: str) -> tuple[str, tuple] | None:
    """(base_column, transform) for the monotonic shapes above."""
    m = _GEN_CAST_DATE_RE.match(expr) or _GEN_DATE_FN_RE.match(expr)
    if m:
        return m.group(1), ("date",)
    m = _GEN_TRUNC_RE.match(expr)
    if m and m.group(1).lower() in ("year", "month", "day", "hour"):
        return m.group(2), ("trunc", m.group(1).lower())
    m = _GEN_YEAR_RE.match(expr)
    if m:
        return m.group(1), ("year",)
    m = _GEN_PREFIX_RE.match(expr)
    if m and int(m.group(2)) >= 1:
        return m.group(1), ("prefix", int(m.group(2)))
    m = _GEN_FIELD_RE.match(expr)
    if m:
        return m.group(2), ("field", m.group(1).lower())
    m = _GEN_FORMAT_RE.match(expr)
    if m:
        return m.group(1), ("format", m.group(2))
    m = _GEN_TRUNC_FN_RE.match(expr)
    if m:
        unit = "year" if m.group(2).lower() in ("year", "yyyy", "yy") else "month"
        # Spark's trunc() returns DATE — same truncation as date_trunc
        # but rendered as a date literal
        return m.group(1), ("trunc_date", unit)
    return None


def _transform_literal(transform: tuple, lit: Any) -> tuple[str, bool] | None:
    """Apply the generation transform to a python literal. Returns
    ``(rhs, at_boundary)`` — rhs rendered as a conjunct RHS (quoted
    string / bare int) the classifier re-parses; ``at_boundary`` is
    True when the literal is a FIXED POINT of the transform (exactly
    midnight for a date cast, first-of-month for a month trunc, a
    ≤n-char string for a prefix), which licenses the strictly tighter
    ``part < f(L)`` implication for ``col < L``: every col before a
    boundary L truncates strictly below f(L). None ⇒ unevaluable,
    caller emits nothing."""
    import datetime as _dt

    kind = transform[0]
    if kind == "prefix":
        if not isinstance(lit, str) or "'" in lit:
            return None
        return "'" + lit[: transform[1]] + "'", len(lit) <= transform[1]
    if isinstance(lit, str) and re.search(r"(?:Z|[+-]\d{2}:?\d{2})$", lit.strip()):
        # an explicit-offset literal is evaluated against partition
        # values Spark computed in the SESSION timezone; a NON-UTC
        # offset normalized driver-side can shift across a partition
        # boundary — bail. A ZERO offset is exactly session wall time
        # (jodie_spark.session pins every session to UTC), so it is
        # safe: strip it and proceed. This is also the shape Spark 4.1
        # pushes for TimestampType filters (tz-aware UTC datetimes).
        try:
            parsed = _dt.datetime.fromisoformat(lit.strip().replace("Z", "+00:00"))
        except ValueError:
            return None
        if parsed.tzinfo is None or parsed.utcoffset() != _dt.timedelta(0):
            return None
        lit = parsed.replace(tzinfo=None).isoformat(sep=" ")
    ts = _parse_temporal(lit, want_date=False)
    if ts is None:
        return None
    if not (1000 <= ts.year <= 9999):
        # strftime('%Y') drops zero padding below year 1000 (and Java
        # renders 5 digits above 9999), breaking the lexicographic
        # agreement with Spark's 4-digit partition values — derive
        # nothing rather than mis-compare
        return None
    if kind == "date":
        d = ts.date()
        return f"'{d.isoformat()}'", ts == _dt.datetime.combine(d, _dt.time.min)
    if kind == "year":
        boundary = ts == _dt.datetime(ts.year, 1, 1)
        return str(ts.year), boundary
    if kind == "field":
        fld = transform[1]
        val = {
            "month": ts.month,
            "day": ts.day,
            "dayofmonth": ts.day,
            "hour": ts.hour,
        }[fld]
        # equality-only transforms never use the boundary flag
        return str(val), False
    if kind == "format":
        # the pattern names a truncation granularity; reuse the shared
        # truncation chain below for the boundary flag so the two can
        # never diverge
        unit = {
            "yyyy-MM": "month",
            "yyyy-MM-dd": "day",
            "yyyy-MM-dd-HH": "hour",
        }[transform[1]]
        fmt = {
            "yyyy-MM": "%Y-%m",
            "yyyy-MM-dd": "%Y-%m-%d",
            "yyyy-MM-dd-HH": "%Y-%m-%d-%H",
        }[transform[1]]
    else:
        unit = transform[1]
    t = ts.replace(minute=0, second=0, microsecond=0)
    if unit in ("day", "month", "year"):
        t = t.replace(hour=0)
    if unit in ("month", "year"):
        t = t.replace(day=1)
    if unit == "year":
        t = t.replace(month=1)
    if kind == "format":
        return f"'{ts.strftime(fmt)}'", t == ts
    if kind == "trunc_date":
        return f"'{t.date().isoformat()}'", t == ts
    return "'" + t.strftime("%Y-%m-%d %H:%M:%S") + "'", t == ts


def augment_with_generated_partitions(
    condition: str,
    schema: T.StructType,
    partition_columns: list[str],
) -> str:
    """``condition`` AND-extended with its implied generated-partition
    conjuncts (no-op when the schema carries no generation metadata or
    nothing is derivable) — the one shared entry point for DML planning
    (``DeltaTable._planning_condition``) and the ``jodie_delta`` batch
    reader, so the derivation's safety rules cannot diverge. ``schema``
    must be the metadata schema (``delta.generationExpression`` field
    metadata intact); mapping-mode guards stay at the call sites, which
    know their name plane."""
    from jodie_spark.tables.table import generated_columns_of

    gen = generated_columns_of(schema)
    if not gen:
        return condition
    extra = implied_partition_conjuncts(
        condition, schema, partition_columns, gen
    )
    return " and ".join([condition, *extra]) if extra else condition


def implied_partition_conjuncts(
    condition: str,
    schema: T.StructType,
    partition_columns: list[str],
    generated: dict[str, str],
) -> list[str]:
    """Partition conjuncts implied by base-column predicates through
    monotonic generation expressions (empty when nothing applies)."""
    field_types = {f.name: f.dataType for f in schema.fields}
    # base column -> [(partition column, transform)]
    by_base: dict[str, list[tuple[str, tuple]]] = {}
    for part, expr in generated.items():
        if part not in partition_columns:
            continue
        parsed = _parse_generation(expr)
        if parsed is None:
            continue
        base, transform = parsed
        dtype = field_types.get(base)
        if transform[0] == "prefix":
            ok = isinstance(dtype, T.StringType)
        else:
            ok = isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType))
        if ok:
            by_base.setdefault(base, []).append((part, transform))
    if not by_base:
        return []

    columns = [f.name for f in schema.fields]
    out: list[str] = []
    for raw in split_conjuncts(condition):
        cj = classify_conjunct(raw, columns)
        if cj.column not in by_base:
            continue
        for part, transform in by_base[cj.column]:
            if cj.kind == "in" and isinstance(cj.literal, list):
                vals = [_transform_literal(transform, v) for v in cj.literal]
                if vals and all(v is not None for v in vals):
                    out.append(f"{part} in ({', '.join(v[0] for v in vals)})")
                continue
            if cj.op in ("is null", "is not null"):
                # every supported transform is NULL-preserving both
                # ways: f(NULL) = NULL and f(non-null) is non-null
                out.append(f"{part} {cj.op}")
                continue
            if cj.literal is None:
                continue
            if transform[0] == "field" and cj.kind in ("minmax", "between"):
                # month/day/hour wrap around year/month/day boundaries:
                # ts >= L does NOT imply month(ts) >= month(L) — only
                # equality-shaped implications are sound
                continue
            if cj.kind == "between":
                got_lo = _transform_literal(transform, cj.literal[0])
                got_hi = _transform_literal(transform, cj.literal[1])
                if got_lo is not None:
                    out.append(f"{part} >= {got_lo[0]}")
                if got_hi is not None:
                    out.append(f"{part} <= {got_hi[0]}")
                continue
            if cj.kind == "equality" and cj.op in ("=", "=="):
                got = _transform_literal(transform, cj.literal)
                if got is not None:
                    out.append(f"{part} = {got[0]}")
            elif cj.kind == "minmax":
                got = _transform_literal(transform, cj.literal)
                if got is not None:
                    rhs, at_boundary = got
                    if cj.op in (">", ">="):
                        op = ">="
                    elif cj.op == "<" and at_boundary:
                        # col < boundary L ⟹ f(col) < f(L): everything
                        # strictly before a fixed point truncates below it
                        op = "<"
                    else:
                        op = "<="
                    out.append(f"{part} {op} {rhs}")
    return out
