"""ClickHouse SQL dialect shim: run the reference's CH queries
VERBATIM on Spark.

The reference documents its query surface as ClickHouse SQL — the
parameterized template `internal/db/db.go:81-99` and the ad-hoc
client commands `README.md:82-107` (SELECT/INSERT/DESCRIBE with
`JSONExtractString`, `now() - INTERVAL`, BETWEEN / ORDER BY /
LIMIT). A user switching engines should be able to paste those
statements unchanged. `translate()` rewrites the CH function
vocabulary to Spark SQL expressions (string-literal-safe tokenizer +
balanced-paren argument parsing, so rewrites recurse through nested
calls and never touch quoted text), and `ch_sql()` executes the
result — SELECT/DESCRIBE via `spark.sql`, INSERT via the engine's
write path, DDL via the storage layer. Each statement is picked from
one ordered regex table (`_STATEMENTS`), and the tables it reads are
bound for that statement alone: registered under view names unique to
the call, referenced by rewriting the statement's identifiers, and
dropped once Spark has analyzed it (`_spark_sql`). Concurrent
statements on one shared session therefore never see each other's
`logs`, and nothing is left in the session catalog.

Everything stays JVM-side: the output is plain Spark SQL text, so
the translated query goes through Catalyst/codegen like any native
query — the shim costs nothing at runtime.

Coverage: the whole vocabulary the reference uses, plus the common
CH aggregate/time/JSON families (countIf/sumIf/..., uniq*,
quantile*(q)(x) parameterized aggregates, toStartOf*/toYYYYMM*,
JSONExtract*, multiIf, argMax/argMin, ...). Known-unmappable
constructs (`arrayJoin`, `topK` — no Spark SQL aggregate equivalent)
raise with a pointer to the DataFrame-level operator instead of
silently mistranslating.
"""

from __future__ import annotations

import os
import re
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["translate", "ch_sql", "ChDialectError"]


class ChDialectError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Tokenizer: strings survive untouched; everything else is rewritable.
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<string>'(?:[^'\\]|\\.|'')*')
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<number>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<op><=|>=|!=|<>|->|\|\||.)
    """,
    re.VERBOSE | re.DOTALL,
)


def _tokenize(sql: str) -> list[str]:
    out = []
    for m in _TOKEN_RE.finditer(sql):
        t = m.group(0)
        if not t.isspace():
            out.append(t)
    return out


def _is_string(tok: str) -> bool:
    return tok.startswith("'")


def _string_value(tok: str) -> str:
    body = tok[1:-1]
    return body.replace("''", "'").replace("\\'", "'")


def _q(value: str) -> str:
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


# ---------------------------------------------------------------------------
# Rewrite rules. Each maps a CH call to Spark SQL text; `args` are the
# ALREADY-TRANSLATED argument strings.
# ---------------------------------------------------------------------------

def _minute_bucket(x: str, seconds: int) -> str:
    """Fixed-width sub-hour bucket: floor the epoch to the grid.
    timestamp_seconds keeps it a TIMESTAMP (UTC session)."""
    return (f"timestamp_seconds(floor(unix_timestamp({x}) / {seconds}) "
            f"* {seconds})")


def _to_start_of_interval(a: list[str]) -> str:
    """toStartOfInterval(ts, INTERVAL n unit): CH's generic grid
    bucketing. Second-based units (SECOND..DAY) floor the epoch to
    an n-unit grid — CH's own anchoring for these. Calendar units
    (WEEK/MONTH/QUARTER/YEAR) map to date_trunc for n=1; n>1 is
    origin-anchored in CH (counts from 1970-01) and refused rather
    than silently mis-anchored."""
    if len(a) != 2:
        raise ChDialectError(
            "toStartOfInterval takes (ts, INTERVAL n unit)")
    m = re.fullmatch(r"(?is)\s*INTERVAL\s+(\d+)\s+([A-Za-z]+)\s*", a[1])
    if m is None:
        raise ChDialectError(
            f"toStartOfInterval: second argument must be a literal "
            f"INTERVAL, got {a[1]!r}")
    n, unit = int(m.group(1)), m.group(2).lower().rstrip("s")
    secs = {"second": 1, "minute": 60, "hour": 3600,
            "day": 86400}.get(unit)
    if secs is not None:
        return _minute_bucket(a[0], n * secs)
    if unit in ("week", "month", "quarter", "year"):
        if n == 1:
            return f"date_trunc('{unit}', {a[0]})"
        raise ChDialectError(
            f"toStartOfInterval with INTERVAL {n} {unit.upper()} is "
            "origin-anchored (from 1970-01) in ClickHouse; use a "
            "seconds-based interval or date_trunc + arithmetic "
            "explicitly")
    raise ChDialectError(f"unknown interval unit {unit!r}")


def _dict_bad(sig: str):
    raise ChDialectError(f"expected {sig}")


def _dict_name(arg: str) -> str:
    """The dictionary name must be a string literal naming a
    view: a `ch_sql(views={name: df})` entry or a session view."""
    m = re.fullmatch(r"\s*'([A-Za-z_]\w*)'\s*", arg)
    if m is None:
        raise ChDialectError(
            f"dictGet* needs a quoted dictionary name (a registered "
            f"view), got {arg!r}")
    return m.group(1)


def _dict_get(a: list[str]) -> str:
    if len(a) != 3:
        _dict_bad("dictGet(dict, attr, key)")
    d = _dict_name(a[0])
    m = re.fullmatch(r"\s*'([A-Za-z_]\w*)'\s*", a[1])
    if m is None:
        raise ChDialectError(
            f"dictGet* needs a quoted attribute column name, got "
            f"{a[1]!r}")
    # max() guarantees the scalar-subquery single-row contract even
    # if the dictionary has duplicate keys (CH would pick one too)
    return (f"(SELECT max({m.group(1)}) FROM {d} "
            f"WHERE {d}.key = ({a[2]}))")


def _json_extract(cast_to: str | None):
    def fn(args):
        if len(args) != 2:
            raise ChDialectError("JSONExtract*(json, key) takes 2 args")
        j, k = args
        if k.startswith("'"):
            path = _q("$." + _string_value(k))
        else:
            raise ChDialectError(
                "JSONExtract* key must be a string literal")
        base = f"get_json_object({j}, {path})"
        return f"CAST({base} AS {cast_to})" if cast_to else base
    return fn


def _trunc(unit: str):
    return lambda args: f"date_trunc('{unit}', {args[0]})"


def _fmt_int(fmt: str):
    return lambda args: (
        f"CAST(date_format({args[0]}, '{fmt}') AS INT)")


def _agg_if(agg: str):
    def fn(args):
        if len(args) != 2:
            raise ChDialectError(f"{agg}If(x, cond) takes 2 args")
        return f"{agg}(IF({args[1]}, {args[0]}, NULL))"
    return fn


def _to_decimal(max_precision: int):
    """CH toDecimal32/64/128(x, scale) -> CAST(x AS DECIMAL(p, s)).

    CH sizes precision by the storage width (Decimal32 holds 9
    digits, Decimal64 18, Decimal128 38); the scale must be a
    literal, as in CH (it is part of the result TYPE)."""

    def fn(args):
        if len(args) != 2:
            raise ChDialectError("toDecimalN(x, scale) takes 2 args")
        try:
            scale = int(args[1].strip())
        except ValueError:
            raise ChDialectError("toDecimalN scale must be an integer literal")
        if not 0 <= scale <= max_precision:
            raise ChDialectError(
                f"toDecimal scale {scale} out of range 0..{max_precision}"
            )
        return f"CAST({args[0]} AS DECIMAL({max_precision}, {scale}))"

    return fn


def _multi_if(args):
    if len(args) < 3 or len(args) % 2 == 0:
        raise ChDialectError("multiIf needs cond/value pairs + else")
    parts = ["CASE"]
    for i in range(0, len(args) - 1, 2):
        parts.append(f"WHEN {args[i]} THEN {args[i + 1]}")
    parts.append(f"ELSE {args[-1]} END")
    return " ".join(parts)


def _ch_date_format(args):
    if len(args) != 2 or not args[1].startswith("'"):
        raise ChDialectError(
            "formatDateTime(x, 'fmt') needs a literal format")
    fmt = _string_value(args[1])
    for ch, spark in (("%Y", "yyyy"), ("%m", "MM"), ("%d", "dd"),
                      ("%H", "HH"), ("%M", "mm"), ("%S", "ss"),
                      ("%F", "yyyy-MM-dd"), ("%T", "HH:mm:ss")):
        fmt = fmt.replace(ch, spark)
    return f"date_format({args[0]}, {_q(fmt)})"


def _split_by_literal(args, name: str):
    """CH's separator is a LITERAL (char or string); Spark split()
    takes a regex, so escape metacharacters ('.', '|', '+', ...) —
    otherwise '.' would split on every character."""
    if len(args) != 2 or not args[0].startswith("'"):
        raise ChDialectError(
            f"{name} separator must be a string literal")
    return f"split({args[1]}, {_q(re.escape(_string_value(args[0])))})"


def _capture_group_count(pat: str) -> int:
    """Count CAPTURING groups in a regex: unescaped '(' outside a
    character class, excluding non-capturing/lookaround '(?...' but
    INCLUDING named groups '(?<name>' / '(?P<name>'."""
    n, i, in_class = 0, 0, False
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            # \Q...\E quotes everything inside literally (RE2 and
            # Java both) — parens in the span are NOT groups
            if i + 1 < len(pat) and pat[i + 1] == "Q":
                j = pat.find("\\E", i + 2)
                i = len(pat) if j < 0 else j + 2
                continue
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(":
            if i + 1 < len(pat) and pat[i + 1] == "?":
                if re.match(r"\?P?<[A-Za-z_]", pat[i + 1:]):
                    n += 1  # named capture, not lookbehind (?<= (?<!
            else:
                n += 1
        i += 1
    return n


def _extract_all(args):
    """CH extractAll(haystack, pattern) returns the FIRST capture
    group per match when the pattern contains one, else the whole
    match (docs: 'if the expression contains a subpattern, the first
    subpattern is extracted'). Pick the regexp_extract_all group
    index accordingly; a non-literal pattern can't be inspected, so
    refuse rather than silently diverge (honest-refusal policy)."""
    if len(args) != 2:
        raise ChDialectError("extractAll takes (haystack, pattern)")
    if not _is_string(args[1]):
        raise ChDialectError(
            "extractAll requires a string-literal pattern: CH returns "
            "the first capture group when the pattern has one, which "
            "cannot be decided for a computed pattern")
    # count groups on the regex Spark's parser will actually produce:
    # SQL-level backslash escapes collapse first ('\\(' -> literal
    # paren escape \(, zero groups; '\(' -> bare ( , one group)
    pat, i, raw = [], 0, _string_value(args[1])
    while i < len(raw):
        if raw[i] == "\\" and i + 1 < len(raw):
            pat.append(raw[i + 1])  # '\\' -> '\', '\(' -> '(', ...
            i += 2
        else:
            pat.append(raw[i])
            i += 1
    idx = 1 if _capture_group_count("".join(pat)) >= 1 else 0
    return f"regexp_extract_all({args[0]}, {args[1]}, {idx})"


def _split_by_char(args):
    return _split_by_literal(args, "splitByChar")


def _ch_range(a: list[str]) -> str:
    start = a[0] if len(a) > 1 else "0"
    end = a[0] if len(a) == 1 else a[1]
    step = a[2] if len(a) > 2 else "1"
    return (f"(CASE WHEN ({end}) <= ({start}) "
            f"THEN CAST(array() AS ARRAY<BIGINT>) "
            f"ELSE sequence(CAST({start} AS BIGINT), "
            f"CAST({end} AS BIGINT) - 1, CAST({step} AS BIGINT)) END)")


def _format_readable_size(args):
    """CH formatReadableSize: binary-prefixed human size, two
    decimals ('1.00 MiB'). A CASE ladder over the binary magnitudes
    — pure expression, stays in codegen."""
    x = f"CAST({args[0]} AS DOUBLE)"
    tiers = [(2.0 ** 50, "PiB"), (2.0 ** 40, "TiB"), (2.0 ** 30, "GiB"),
             (2.0 ** 20, "MiB"), (2.0 ** 10, "KiB")]
    whens = " ".join(
        f"WHEN {x} >= {int(t)} THEN "
        f"format_string('%.2f {u}', {x} / {int(t)})"
        for t, u in tiers)
    return f"(CASE {whens} ELSE format_string('%.2f B', {x}) END)"


def _format_readable_quantity(args):
    """CH formatReadableQuantity: decimal-prefixed human count, two
    decimals ('1.23 million') — same CASE-ladder shape as
    formatReadableSize, decimal tiers."""
    x = f"CAST({args[0]} AS DOUBLE)"
    tiers = [(1e12, "trillion"), (1e9, "billion"), (1e6, "million"),
             (1e3, "thousand")]
    whens = " ".join(
        f"WHEN abs({x}) >= {int(t)} THEN "
        f"format_string('%.2f {u}', {x} / {int(t)})"
        for t, u in tiers)
    return f"(CASE {whens} ELSE format_string('%.2f', {x}) END)"


def _unsupported(name: str, hint: str):
    def fn(args):
        raise ChDialectError(f"{name} has no Spark SQL equivalent; {hint}")
    return fn


def _chain_binary(fn: str, args: list[str]) -> str:
    """Fold an n-ary CH call onto a binary Spark function:
    f(a,b,c) -> f(f(a,b),c)."""
    out = args[0]
    for x in args[1:]:
        out = f"{fn}({out}, {x})"
    return out


def _array_resize(a: list[str]) -> str:
    """CH arrayResize(arr, n[, ext]): truncate to n, or grow by
    padding. Without an extender CH pads the element type's DEFAULT
    (0/''), which isn't knowable from SQL text — the 2-arg form pads
    the typed NULL instead (try_element_at out of bounds yields NULL
    OF THE ELEMENT TYPE, keeping concat well-typed) — a documented
    divergence; pass the extender for exact CH behavior. Negative
    sizes (CH: resize from the END) are refused."""
    if len(a) not in (2, 3):
        raise ChDialectError("arrayResize(arr, size[, extender])")
    if a[1].strip().startswith("-"):
        raise ChDialectError(
            "arrayResize with a negative size (CH resizes from the "
            "end) is unsupported; slice() covers that shape")
    arr, n = a[0], f"CAST({a[1]} AS INT)"
    pad = a[2] if len(a) == 3 else f"try_element_at({a[0]}, 2147483647)"
    return (
        f"CASE WHEN {n} <= size({arr}) "
        f"THEN slice({arr}, 1, greatest({n}, 0)) "
        f"ELSE concat({arr}, transform(sequence(1, {n} - size({arr})), "
        f"__i -> ({pad}))) END"
    )


def _date_add_sub(a: list[str], prefix: str, name: str) -> str:
    """CH dateAdd/dateSub/timestampAdd/timestampSub. Two forms:
    (unit, n, date) with a bare or quoted unit keyword, routed
    through the add*/subtract* family (same clamping semantics), and
    (date, INTERVAL ...) which is native Spark arithmetic."""
    if len(a) == 2:
        op = "+" if prefix == "add" else "-"
        return f"({a[0]} {op} {a[1]})"
    if len(a) != 3:
        raise ChDialectError(f"{name}(unit, n, date) or {name}(date, interval)")
    unit = a[0].strip().strip("'\"").lower()
    n, d = a[1], a[2]
    if unit == "quarter":
        unit, n = "month", f"(3 * ({n}))"
    fn = _FUNCS.get(f"{prefix}{unit}s")
    if fn is None:
        raise ChDialectError(
            f"{name}: unsupported unit {unit!r} (year/quarter/month/"
            f"week/day/hour/minute/second)")
    return fn([d, n])


def _ch_transform(a: list[str]) -> str:
    """CH transform(x, from, to[, default]) — the literal-array
    dictionary lookup — vs Spark's higher-order transform(arr,
    lambda), which passes through when the second argument is a
    lambda. try_element_at: a missing key must yield the fallback,
    not an ANSI error."""
    if len(a) == 2 and "->" in a[1]:
        return f"transform({a[0]}, {a[1]})"
    if len(a) == 3:
        return (f"coalesce(try_element_at(map_from_arrays({a[1]}, "
                f"{a[2]}), {a[0]}), {a[0]})")
    if len(a) == 4:
        return (f"coalesce(try_element_at(map_from_arrays({a[1]}, "
                f"{a[2]}), {a[0]}), {a[3]})")
    raise ChDialectError(
        "transform(x, [from...], [to...][, default]) or the Spark "
        "higher-order transform(arr, lambda)")


def _round_down_to_set(x: str, arr: str) -> str:
    """roundDown contract: the largest set element <= x, else the
    set's minimum (CH returns the lowest bound below the range)."""
    return (f"coalesce(array_max(filter({arr}, __rd -> __rd <= ({x}))), "
            f"array_min({arr}))")


def _json_type(a: list[str]) -> str:
    """CH JSONType by leading token of the trimmed document. Number
    subtyping (Int64 vs Double) is decided textually; CH decides from
    its parsed representation — same answer on canonical JSON."""
    x = f"trim({a[0]})"
    return (
        f"CASE WHEN {a[0]} IS NULL THEN NULL "
        f"WHEN startswith({x}, '{{') THEN 'Object' "
        f"WHEN startswith({x}, '[') THEN 'Array' "
        f"WHEN startswith({x}, '\"') THEN 'String' "
        f"WHEN {x} IN ('true', 'false') THEN 'Bool' "
        f"WHEN {x} = 'null' THEN 'Null' "
        f"WHEN {x} RLIKE '^-?[0-9]+$' THEN 'Int64' "
        f"WHEN {x} RLIKE '^-?[0-9]+(\\\\.[0-9]+)?([eE][+-]?[0-9]+)?$' "
        f"THEN 'Double' ELSE '' END")


def _json_extract_array_raw(a: list[str]) -> str:
    """Array elements as RAW JSON text via Spark 4's VARIANT type:
    to_json(variant) re-serializes each element as JSON, so string
    elements KEEP their quotes ('["a"]' -> ['"a"'], matching CH) —
    the r9-advisor-flagged get_json_object path unquoted them.
    Remaining divergence: elements re-serialize minified/canonical
    (whitespace and number formatting normalize), as documented for
    the whole JSONExtract* family. Non-array / invalid / NULL
    documents yield [] (try_parse_json + try_cast guard)."""
    if len(a) == 1:
        doc = a[0]
    else:  # path tail like CH JSONExtractArrayRaw(json, 'key')
        doc = f"get_json_object({a[0]}, concat('$.', {a[1]}))"
    return (
        f"coalesce(transform(try_cast(try_parse_json({doc}) "
        f"AS ARRAY<VARIANT>), __e -> to_json(__e)), "
        f"CAST(array() AS ARRAY<STRING>))")


def _simple_json(cast: str | None, as_bool: bool = False):
    """visitParam*/simpleJSON* family. CH scans for the FIRST
    occurrence of the field at ANY nesting level; this translation
    reads the TOP-LEVEL field (documented divergence — identical on
    the flat attribute objects these functions are used for)."""
    def rule(a: list[str]) -> str:
        v = f"get_json_object({a[0]}, concat('$.', {a[1]}))"
        if as_bool:
            return f"({v} = 'true')"
        if cast is None:
            return v
        return f"CAST({v} AS {cast})"
    return rule


_IPV4_RE = (
    "^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\\\.){3}"
    "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"
)


def _ipv4_valid(s: str) -> str:
    return f"({s} RLIKE '{_IPV4_RE}')"


def _ipv4_to_num(s: str) -> str:
    return (
        f"aggregate(transform(split({s}, '\\\\.'), "
        f"__o -> CAST(__o AS BIGINT)), CAST(0 AS BIGINT), "
        f"(__acc, __x) -> __acc * 256 + __x)")


def _apply_lambda(lam: str, x: str) -> str:
    """Apply a user-written lambda to a scalar inside an expression:
    wrap the scalar in a one-element array, transform, take the head.
    Stays in codegen; the lambda text is reused verbatim."""
    return f"element_at(transform(array({x}), {lam}), 1)"


def _array_rotate(arr: str, n: str, left: bool) -> str:
    """arrayRotateLeft/Right. pmod normalizes n > size and negative
    n (CH: a negative left-rotation rotates right); rotating right
    by n is rotating left by -n."""
    k = f"pmod({n if left else f'-({n})'}, size({arr}))"
    return (
        f"CASE WHEN size({arr}) = 0 THEN {arr} ELSE "
        f"concat(slice({arr}, {k} + 1, size({arr}) - {k}), "
        f"slice({arr}, 1, {k})) END")


def _array_shift(a: list[str], left: bool) -> str:
    """arrayShiftLeft/Right(arr, n[, default]): vacated slots take
    the default (NULL without one — the arrayResize convention; the
    element type isn't knowable from text). Negative n shifts the
    other way, like CH."""
    arr = a[0]
    n = a[1] if left else f"-({a[1]})"
    d = a[2] if len(a) > 2 else "NULL"
    return (
        f"CASE WHEN size({arr}) = 0 OR ({n}) = 0 THEN {arr} "
        f"WHEN abs({n}) >= size({arr}) THEN transform({arr}, __x -> {d}) "
        f"WHEN ({n}) > 0 THEN concat(slice({arr}, ({n}) + 1, "
        f"size({arr}) - ({n})), transform(sequence(1, ({n})), "
        f"__i -> {d})) "
        f"ELSE concat(transform(sequence(1, -({n})), __i -> {d}), "
        f"slice({arr}, 1, size({arr}) + ({n}))) END")


def _array_fill(lam: str, arr: str) -> str:
    """arrayFill: where the predicate fails, take the PREVIOUS OUTPUT
    element (already filled — one pass suffices); leading failers
    keep their value (nothing to fill from), like CH. slice(arr,1,0)
    is the typed empty accumulator."""
    return (
        f"aggregate({arr}, slice({arr}, 1, 0), (__acc, __x) -> "
        f"array_append(__acc, IF({_apply_lambda(lam, '__x')}, __x, "
        f"coalesce(try_element_at(__acc, -1), __x))))")


def _array_split(lam: str, arr: str) -> str:
    """arraySplit: cut BEFORE each element the predicate marks; the
    first element always opens the first group (no leading empty
    group, per CH's documented example)."""
    return (
        f"CASE WHEN size({arr}) = 0 THEN slice(array({arr}), 1, 0) "
        f"ELSE aggregate({arr}, array(slice({arr}, 1, 0)), "
        f"(__acc, __x) -> IF({_apply_lambda(lam, '__x')} "
        f"AND size(element_at(__acc, -1)) > 0, "
        f"array_append(__acc, array(__x)), "
        f"concat(slice(__acc, 1, size(__acc) - 1), "
        f"array(array_append(element_at(__acc, -1), __x))))) END")


_DATE_NAME_FMT = {
    "year": "yyyy", "quarter": "QQQ", "month": "MMMM",
    "week": "w", "dayofyear": "D", "day": "d", "weekday": "EEEE",
    "hour": "H", "minute": "m", "second": "s",
}


def _date_name(a: list[str]) -> str:
    """CH dateName('part', d) — textual calendar parts. The part must
    be a string literal (CH requires that too)."""
    if len(a) != 2 or not a[0].startswith("'"):
        raise ChDialectError("dateName('part', date) — part must be "
                             "a string literal")
    part = _string_value(a[0]).lower()
    fmt = _DATE_NAME_FMT.get(part)
    if fmt is None:
        raise ChDialectError(
            f"dateName: unsupported part {part!r} "
            f"(supported: {sorted(_DATE_NAME_FMT)})")
    return f"date_format({a[1]}, {_q(fmt)})"


def _normalize_query(a: list[str]) -> str:
    """CH normalizeQuery: literals -> '?'. Token-approximate: quoted
    strings first, then standalone numeric tokens (an identifier's
    trailing digits — col1 — survive because the preceding character
    class excludes word characters)."""
    strings_gone = f"regexp_replace({a[0]}, \"'[^']*'\", '?')"
    return (
        f"regexp_replace({strings_gone}, "
        f"'(^|[^A-Za-z0-9_])[0-9]+(\\\\.[0-9]+)?', '$1?')")


def _count_capture_groups(pattern: str) -> int:
    """Capture-group count of a regex literal: unescaped '(' not
    followed by '?' (non-capturing / lookaround / named flags all
    start '(?'). Character-class state is tracked so a '(' inside
    [...] (e.g. '([(])') is a literal, not a group — counting it
    would shape the SQL with a wrong group index and fail at runtime
    with 'invalid group index' on an otherwise-valid pattern (r11
    advisor finding)."""
    n = 0
    i = 0
    in_class = False
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
        elif c == "(" and not pattern[i + 1:i + 2] == "?":
            n += 1
        i += 1
    return n


def _extract_groups(a: list[str]) -> str:
    """CH extractGroups(s, 're'): the capture groups of the FIRST
    match as an array; EMPTY array when the pattern doesn't match
    (regexp_extract alone would yield ['','',...]). Pattern must be a
    string literal — the group count shapes the SQL."""
    if len(a) != 2 or not _is_string(a[1]):
        raise ChDialectError(
            "extractGroups(haystack, 'pattern') — the pattern must "
            "be a string literal")
    n = _count_capture_groups(_string_value(a[1]))
    if n == 0:
        raise ChDialectError("extractGroups: pattern has no capture "
                             "groups")
    cols = ", ".join(f"regexp_extract({a[0]}, {a[1]}, {g})"
                     for g in range(1, n + 1))
    return (f"CASE WHEN {a[0]} RLIKE {a[1]} THEN array({cols}) "
            f"ELSE CAST(array() AS ARRAY<STRING>) END")


def _extract_all_groups(a: list[str]) -> str:
    """CH extractAllGroupsVertical (the extractAllGroups default):
    one group-array per MATCH. Re-extracts the groups from each full
    match — sound because a match's groups sit inside its own text.
    That re-extraction premise BREAKS for lookarounds (the assertion
    context lives outside the match text: '(?<=x)(\\d)' matches in
    the haystack but fails against the isolated match), so lookaround
    patterns refuse loudly instead of silently yielding '' groups
    (r11 advisor finding). Literal pattern required (group count
    shapes the SQL)."""
    if len(a) != 2 or not _is_string(a[1]):
        raise ChDialectError(
            "extractAllGroups(haystack, 'pattern') — the pattern "
            "must be a string literal")
    raw = _string_value(a[1])
    if any(t in raw for t in ("(?=", "(?!", "(?<=", "(?<!")):
        raise ChDialectError(
            "extractAllGroups: lookaround assertions are unsupported "
            "(groups are re-extracted from each match's own text, "
            "where the assertion context is absent)")
    n = _count_capture_groups(raw)
    if n == 0:
        raise ChDialectError("extractAllGroups: pattern has no "
                             "capture groups")
    cols = ", ".join(f"regexp_extract(__m, {a[1]}, {g})"
                     for g in range(1, n + 1))
    return (f"transform(regexp_extract_all({a[0]}, {a[1]}, 0), "
            f"__m -> array({cols}))")


def _ch_format(a: list[str]) -> str:
    """CH format('pattern', args...): '{}' / '{N}' placeholders.
    Literal patterns lower to format_string ('%s' / '%N$s'); braces
    escape CH-style by doubling."""
    if not a or not _is_string(a[0]):
        raise ChDialectError(
            "format('pattern', ...) — the pattern must be a string "
            "literal")
    pat = _string_value(a[0])
    out = []
    i = 0
    auto = 0
    while i < len(pat):
        c = pat[i]
        if c == "{" and pat[i + 1:i + 2] == "{":
            out.append("{")
            i += 2
            continue
        if c == "}" and pat[i + 1:i + 2] == "}":
            out.append("}")
            i += 2
            continue
        if c == "{":
            j = pat.find("}", i)
            if j < 0:
                raise ChDialectError(
                    f"format: unbalanced '{{' in pattern {pat!r}")
            body = pat[i + 1:j]
            if body == "":
                auto += 1
                out.append(f"%{auto}$s")
            elif body.isdigit():
                out.append(f"%{int(body) + 1}$s")
            else:
                raise ChDialectError(
                    f"format: placeholder {{{body}}} must be empty "
                    f"or a numeric index (pattern {pat!r})")
            i = j + 1
            continue
        if c == "%":
            out.append("%%")
            i += 1
            continue
        out.append(c)
        i += 1
    fmt = "".join(out).replace("'", "''")
    args = ", ".join(f"CAST({x} AS STRING)" for x in a[1:])
    return f"format_string('{fmt}'" + (f", {args}" if args else "") + ")"


#: MySQL-style parseDateTime tokens -> Spark datetime pattern letters
_PARSE_DT_FMT = {
    "Y": "yyyy", "y": "yy", "m": "MM", "c": "M", "d": "dd", "e": "d",
    "H": "HH", "k": "H", "h": "hh", "l": "h", "i": "mm", "s": "ss",
    "S": "ss", "f": "SSSSSS", "p": "a", "j": "DDD",
    "M": "MMMM", "b": "MMM", "a": "EEE", "W": "EEEE",
    "F": "yyyy-MM-dd", "T": "HH:mm:ss", "D": "MM/dd/yy",
}


def _parse_datetime(a: list[str]) -> str:
    """CH parseDateTime(str, 'format'[, tz]): MySQL-style %-tokens.
    Literal format required; unsupported tokens refuse loudly rather
    than mis-parse."""
    if len(a) < 2 or not _is_string(a[1]):
        raise ChDialectError(
            "parseDateTime(str, 'format') — the format must be a "
            "string literal")
    pat = _string_value(a[1])
    out: list[str] = []
    lit: list[str] = []  # pending literal run

    def flush_lit():
        # One quoted section per literal RUN: per-character quoting
        # emitted 'h''r''s' for '%H hrs', which Java datetime parsing
        # reads as h-quote-r-quote-s (doubled quote inside a quoted
        # section = literal quote) — a silent misparse (r11 advisor
        # finding). Input quotes double INSIDE the section.
        if lit:
            out.append("'" + "".join(lit).replace("'", "''") + "'")
            lit.clear()

    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "%":
            tok = pat[i + 1:i + 2]
            if tok == "%":
                lit.append("%")
            else:
                rep = _PARSE_DT_FMT.get(tok)
                if rep is None:
                    raise ChDialectError(
                        f"parseDateTime: unsupported format token "
                        f"%{tok}")
                flush_lit()
                out.append(rep)
            i += 2
            continue
        lit.append(c)
        i += 1
    flush_lit()
    fmt = "".join(out).replace("'", "''")
    return f"to_timestamp({a[0]}, '{fmt}')"


def _array_reduce(a: list[str]) -> str:
    """CH arrayReduce('agg', arr): apply an aggregate BY NAME to an
    array. The name must be a literal; supported names map onto the
    dialect's own array folds."""
    if len(a) != 2 or not _is_string(a[0]):
        raise ChDialectError(
            "arrayReduce('agg', arr) — the aggregate name must be a "
            "string literal")
    name = _string_value(a[0]).lower()
    arr = a[1]
    impls = {
        "sum": lambda: _FUNCS["arraysum"]([arr]),
        "min": lambda: f"array_min({arr})",
        "max": lambda: f"array_max({arr})",
        "avg": lambda: _FUNCS["arrayavg"]([arr]),
        "count": lambda: f"size({arr})",
        "any": lambda: f"try_element_at({arr}, 1)",
        "anylast": lambda: f"try_element_at({arr}, -1)",
        "uniq": lambda: f"size(array_distinct({arr}))",
        "uniqexact": lambda: f"size(array_distinct({arr}))",
    }
    if name not in impls:
        raise ChDialectError(
            f"arrayReduce: unsupported aggregate {name!r} "
            f"(supported: {sorted(impls)})")
    return impls[name]()


def _pathfull_nn(u: str) -> str:
    """path + '?query' of a URL, never NULL — the hierarchy
    functions' cut domain (CH cuts at / and ? of the path and
    query-string; fragments are not part of the hierarchy)."""
    return (f"concat(coalesce(parse_url({u}, 'PATH'), ''), "
            f"coalesce(concat('?', parse_url({u}, 'QUERY')), ''))")


def _hierarchy_elements(parts: str, prefix: str) -> str:
    """The URL-hierarchy transform over lookahead-split segments:
    element k = `prefix` + the first k segments + the NEXT segment's
    leading separator (CH includes the boundary separator in each
    truncation; the final element is the whole string). Java's
    zero-width lookahead split produces no leading empty segment, so
    every segment starts with its own separator (consecutive
    separators land as a lone-separator segment — a documented
    divergence from CH's treat-runs-as-one rule, reachable only from
    malformed '//' paths)."""
    return (
        f"transform(sequence(1, size({parts})), "
        f"__k -> concat({prefix}, "
        f"concat_ws('', slice({parts}, 1, CAST(__k AS INT))), "
        f"IF(__k < size({parts}), substring(element_at({parts}, "
        f"CAST(__k AS INT) + 1), 1, 1), '')))")


def _url_path_hierarchy(a: list[str]) -> str:
    pf = _pathfull_nn(a[0])
    parts = f"split({pf}, '(?=[/?])')"
    elems = _hierarchy_elements(parts, "''")
    return (f"CASE WHEN {pf} = '' "
            f"THEN CAST(array() AS ARRAY<STRING>) "
            f"ELSE {elems} END")


def _url_hierarchy(a: list[str]) -> str:
    pf = _pathfull_nn(a[0])
    pre = (f"regexp_extract({a[0]}, "
           f"'^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)")
    parts = f"split({pf}, '(?=[/?])')"
    elems = _hierarchy_elements(parts, pre)
    # the cut after the path's FIRST separator is the
    # 'proto://host/' element — the lookahead split drops the empty
    # segment before it (Java 8+ zero-width-at-start rule), so it is
    # prepended explicitly; a path-less URL keeps just that element
    first = (f"concat({pre}, "
             f"substring(element_at({parts}, 1), 1, 1))")
    return (f"CASE WHEN {pf} = '' THEN array(concat({pre}, '/')) "
            f"ELSE concat(array({first}), {elems}) END")


_FUNCS = {
    # JSON family (F1; db.go:96)
    "jsonextractstring": _json_extract(None),
    "jsonextractint": _json_extract("BIGINT"),
    "jsonextractfloat": _json_extract("DOUBLE"),
    "jsonextractbool": _json_extract("BOOLEAN"),
    "jsonhas": lambda a: f"(get_json_object({a[0]}, "
                         f"{_q('$.' + _string_value(a[1]))}) IS NOT NULL)",
    # time family (F2/F3)
    "tostartofminute": _trunc("minute"),
    "tostartofhour": _trunc("hour"),
    "tostartofday": _trunc("day"),
    # CH default mode 0 is SUNDAY-start (Spark's date_trunc week is
    # Monday-start); modes 1/3 select Monday. Returns Date, like CH.
    "tostartofweek": lambda a: (
        f"date_trunc('week', {a[0]})"
        if len(a) > 1 and a[1].strip() in ("1", "3") else
        f"date_sub(to_date({a[0]}), dayofweek({a[0]}) - 1)"),
    "tostartofmonth": _trunc("month"),
    "tostartofquarter": _trunc("quarter"),
    "tostartofyear": _trunc("year"),
    "tohour": lambda a: f"hour({a[0]})",
    "tominute": lambda a: f"minute({a[0]})",
    "tosecond": lambda a: f"second({a[0]})",
    "todayofmonth": lambda a: f"day({a[0]})",
    "todayofweek": lambda a: f"weekday({a[0]}) + 1",  # CH: Mon=1
    "todayofyear": lambda a: f"dayofyear({a[0]})",
    "tomonth": lambda a: f"month({a[0]})",
    "toyear": lambda a: f"year({a[0]})",
    "tounixtimestamp": lambda a: f"unix_timestamp({a[0]})",
    "fromunixtimestamp": lambda a: f"timestamp_seconds({a[0]})",
    # bar(x, min, max, width): CH's inline ASCII histogram. CH draws
    # eighth-block partials; full blocks only here (documented) —
    # the clamp mirrors CH (x below min -> empty, above max -> full)
    # try_divide: a degenerate max==min range yields NULL, not an
    # ANSI divide-by-zero error
    "bar": lambda a: (
        f"repeat('█', CAST(round(try_divide(greatest(least(({a[0]}) "
        f"- ({a[1]}), ({a[2]}) - ({a[1]})), 0), ({a[2]}) - ({a[1]})) "
        f"* {a[3] if len(a) > 3 else 80}) AS INT))"),
    "adddays": lambda a: f"({a[0]} + make_interval(0, 0, 0, {a[1]}))",
    "subtractdays": lambda a: f"({a[0]} - make_interval(0, 0, 0, {a[1]}))",
    # r9 wave: the rest of CH's add*/subtract* datetime family
    # (make_interval keeps timestamp typing; unit position per docs)
    "addyears": lambda a: f"({a[0]} + make_interval({a[1]}))",
    "subtractyears": lambda a: f"({a[0]} - make_interval({a[1]}))",
    "addmonths": lambda a: f"({a[0]} + make_interval(0, {a[1]}))",
    "subtractmonths": lambda a: f"({a[0]} - make_interval(0, {a[1]}))",
    "addweeks": lambda a: f"({a[0]} + make_interval(0, 0, {a[1]}))",
    "subtractweeks": lambda a: f"({a[0]} - make_interval(0, 0, {a[1]}))",
    "addhours": lambda a: (
        f"({a[0]} + make_interval(0, 0, 0, 0, {a[1]}))"),
    "subtracthours": lambda a: (
        f"({a[0]} - make_interval(0, 0, 0, 0, {a[1]}))"),
    "addminutes": lambda a: (
        f"({a[0]} + make_interval(0, 0, 0, 0, 0, {a[1]}))"),
    "subtractminutes": lambda a: (
        f"({a[0]} - make_interval(0, 0, 0, 0, 0, {a[1]}))"),
    "addseconds": lambda a: (
        f"({a[0]} + make_interval(0, 0, 0, 0, 0, 0, {a[1]}))"),
    "subtractseconds": lambda a: (
        f"({a[0]} - make_interval(0, 0, 0, 0, 0, 0, {a[1]}))"),
    "tostartofsecond": lambda a: f"date_trunc('second', {a[0]})",
    # ISO week/year: Spark weekofyear IS the ISO week; the ISO year
    # is the calendar year of that week's Thursday (date_trunc('week')
    # is Monday-anchored, +3 days = Thursday)
    "toisoweek": lambda a: f"weekofyear({a[0]})",
    "toisoyear": lambda a: (
        f"year(date_add(CAST(date_trunc('week', {a[0]}) AS DATE), 3))"),
    # toWeek's default mode-0 (Sunday-first, week 0..53) has no Spark
    # counterpart; only the ISO mode translates faithfully
    "toweek": lambda a: (
        f"weekofyear({a[0]})" if len(a) == 2 and a[1].strip() == "3"
        else (_ for _ in ()).throw(ChDialectError(
            "toWeek only supports mode 3 (ISO) in the Spark "
            "translation; use toISOWeek, or mode 3 explicitly"))),
    "datediff": lambda a: (
        f"timestampdiff({_string_value(a[0]).upper()}, {a[1]}, {a[2]})"
        if a and a[0].startswith("'") else
        (_ for _ in ()).throw(ChDialectError(
            "dateDiff unit must be a string literal"))),
    # CH age() counts COMPLETE units between the dates — exactly
    # Spark's timestampdiff contract (dateDiff above shares the
    # translation; CH's boundary-crossing nuance for dateDiff is a
    # documented hair's-width divergence)
    "age": lambda a: (
        f"timestampdiff({_string_value(a[0]).upper()}, {a[1]}, {a[2]})"
        if a and a[0].startswith("'") else
        (_ for _ in ()).throw(ChDialectError(
            "age unit must be a string literal"))),
    "tolastdayofmonth": lambda a: f"last_day({a[0]})",
    # toMonday = toStartOfWeek with CH's Monday-first default, as a
    # DATE (Spark date_trunc('week') is Monday-anchored too)
    "tomonday": lambda a: f"CAST(date_trunc('week', {a[0]}) AS DATE)",
    "toyyyymm": _fmt_int("yyyyMM"),
    "toyyyymmdd": _fmt_int("yyyyMMdd"),
    "todate": lambda a: f"to_date({a[0]})",
    "todatetime": lambda a: f"to_timestamp({a[0]})",
    "parsedatetimebesteffort": lambda a: f"to_timestamp({a[0]})",
    "formatdatetime": _ch_date_format,
    "now": lambda a: "current_timestamp()",
    "today": lambda a: "current_date()",
    "yesterday": lambda a: "date_sub(current_date(), 1)",
    # dictionaries: CH's in-memory key->attr lookup tables. The
    # analog is a registered view (ch_sql views=...) whose key column
    # is named `key` (CH declares the PK in CREATE DICTIONARY; this
    # convention replaces that declaration). dictGet becomes a
    # correlated scalar subquery — Catalyst decorrelates it into a
    # (broadcastable) left join, which IS the hash-dict lookup.
    # Miss semantics: CH dictGet returns the attribute's DECLARED
    # default on a missing key (the type default — 0, '' — unless
    # CREATE DICTIONARY set one). The TYPED variants below coalesce
    # to the type default to match; untyped dictGet has no declared
    # type here, so it returns NULL on a miss — a documented
    # divergence (use dictGetOrDefault or a typed variant for
    # CH-exact miss behavior).
    "dictget": lambda a: _dict_get(a),
    "dictgetordefault": lambda a: (
        f"coalesce({_dict_get(a[:3])}, {a[3]})" if len(a) == 4
        else _dict_bad("dictGetOrDefault(dict, attr, key, default)")),
    "dictgetstring": lambda a: (
        f"coalesce(CAST({_dict_get(a)} AS STRING), '')"),
    "dictgetint64": lambda a: (
        f"coalesce(CAST({_dict_get(a)} AS BIGINT), CAST(0 AS BIGINT))"),
    "dictgetuint64": lambda a: (
        f"coalesce(CAST({_dict_get(a)} AS BIGINT), CAST(0 AS BIGINT))"),
    "dictgetfloat64": lambda a: (
        f"coalesce(CAST({_dict_get(a)} AS DOUBLE), CAST(0 AS DOUBLE))"),
    "dicthas": lambda a: (
        f"(SELECT count(*) FROM {_dict_name(a[0])} WHERE "
        f"{_dict_name(a[0])}.key = ({a[1]})) > 0" if len(a) == 2
        else _dict_bad("dictHas(dict, key)")),
    # CH allows zero-arg count(); Spark requires count(*)
    "count": lambda a: (
        "count(*)" if not a or all(x.strip() == "" for x in a)
        else f"count({', '.join(a)})"),
    # conditional aggregates. countIf has both CH forms: countIf(cond)
    # and countIf(x, cond) (count rows where cond holds AND x is
    # non-null).
    "countif": lambda a: (
        f"count_if({a[0]})" if len(a) == 1
        else f"count(IF({a[1]}, {a[0]}, NULL))" if len(a) == 2
        else (_ for _ in ()).throw(
            ChDialectError("countIf takes 1 or 2 args"))),
    "sumif": _agg_if("sum"),
    "avgif": _agg_if("avg"),
    "minif": _agg_if("min"),
    "maxif": _agg_if("max"),
    # the -Array combinator family (r9): aggregate over every ELEMENT
    # of an array column across all rows of the group
    "sumarray": lambda a: (
        f"sum(aggregate({a[0]}, CAST(0 AS DOUBLE), "
        f"(__acc, __x) -> __acc + __x))"),
    "minarray": lambda a: f"min(array_min({a[0]}))",
    "maxarray": lambda a: f"max(array_max({a[0]}))",
    "avgarray": lambda a: (
        f"(sum(aggregate({a[0]}, CAST(0 AS DOUBLE), "
        f"(__acc, __x) -> __acc + __x)) / sum(size({a[0]})))"),
    "countarray": lambda a: f"sum(size({a[0]}))",
    # uniqArray: exact distinct elements across the group — the
    # collect_list gathers per-group ARRAYS (bounded by the group's
    # element count, same as CH's exact set state)
    "uniqarray": lambda a: (
        f"size(array_distinct(flatten(collect_list({a[0]}))))"),
    "grouparrayarray": lambda a: f"flatten(collect_list({a[0]}))",
    # distinct-count family
    "uniq": lambda a: f"approx_count_distinct({', '.join(a)})",
    "uniqcombined": lambda a: f"approx_count_distinct({', '.join(a)})",
    "uniqhll12": lambda a: f"approx_count_distinct({', '.join(a)})",
    "uniqexact": lambda a: f"count(DISTINCT {', '.join(a)})",
    # CH's DataSketches theta family -> Spark's native theta
    # functions; multi-arg form counts distinct TUPLES (like CH) by
    # sketching the tuple hash
    "uniqtheta": lambda a: (
        f"theta_sketch_estimate(theta_sketch_agg({a[0]}))" if len(a) == 1
        else f"theta_sketch_estimate(theta_sketch_agg("
             f"xxhash64({', '.join(a)})))"),
    # plain topK(x) = CH's topK with the default k=10; returns the
    # VALUE array like CH (counts dropped), frequency-descending
    "topk": lambda a:
        f"transform(approx_top_k({a[0]}, 10), s -> s.item)",
    # extremes / misc aggregates
    "argmax": lambda a: f"max_by({a[0]}, {a[1]})",
    "argmin": lambda a: f"min_by({a[0]}, {a[1]})",
    "median": lambda a: f"percentile_approx({a[0]}, 0.5)",
    "medianexact": lambda a: f"percentile({a[0]}, 0.5)",
    # `any(x)` maps to any_value ONLY when it cannot be the SQL
    # `> ANY (subquery)` quantifier — _emit skips the rewrite when a
    # comparison operator directly precedes it
    "any": lambda a: f"any_value({a[0]})",
    "grouparray": lambda a: f"collect_list({a[0]})",
    "groupuniqarray": lambda a: f"collect_set({a[0]})",
    # scalars
    "multiif": _multi_if,
    "ifnull": lambda a: f"coalesce({', '.join(a)})",
    # (assumeNotNull lives in the NULL-family block below)
    "tostring": lambda a: f"CAST({a[0]} AS STRING)",
    "toint64": lambda a: f"CAST({a[0]} AS BIGINT)",
    "touint64": lambda a: f"CAST({a[0]} AS BIGINT)",
    "toint32": lambda a: f"CAST({a[0]} AS INT)",
    "touint32": lambda a: f"CAST({a[0]} AS INT)",
    "tofloat64": lambda a: f"CAST({a[0]} AS DOUBLE)",
    "tofloat32": lambda a: f"CAST({a[0]} AS FLOAT)",
    "toint16": lambda a: f"CAST({a[0]} AS SMALLINT)",
    "touint16": lambda a: f"CAST({a[0]} AS SMALLINT)",
    "toint8": lambda a: f"CAST({a[0]} AS TINYINT)",
    "touint8": lambda a: f"CAST({a[0]} AS TINYINT)",
    # CH toDecimalN(x, scale): N is the storage width (32/64/128 ->
    # 9/18/38 max precision); scale must be an integer literal.
    # Decimal arithmetic is exact and order-independent — the
    # moneydec boundary-proof path, reachable from dialect SQL.
    "todecimal32": _to_decimal(9),
    "todecimal64": _to_decimal(18),
    "todecimal128": _to_decimal(38),
    # the parse-guard family (log parsing: CH OrNull -> NULL on
    # malformed input, OrZero -> the type zero) — Spark try_cast
    "toint64ornull": lambda a: f"TRY_CAST({a[0]} AS BIGINT)",
    "toint32ornull": lambda a: f"TRY_CAST({a[0]} AS INT)",
    "tofloat64ornull": lambda a: f"TRY_CAST({a[0]} AS DOUBLE)",
    "todateornull": lambda a: f"TRY_CAST({a[0]} AS DATE)",
    "todatetimeornull": lambda a: f"TRY_CAST({a[0]} AS TIMESTAMP)",
    "toint64orzero": lambda a: (
        f"coalesce(TRY_CAST({a[0]} AS BIGINT), CAST(0 AS BIGINT))"),
    "toint32orzero": lambda a: (
        f"coalesce(TRY_CAST({a[0]} AS INT), CAST(0 AS INT))"),
    "tofloat64orzero": lambda a: (
        f"coalesce(TRY_CAST({a[0]} AS DOUBLE), CAST(0 AS DOUBLE))"),
    "empty": lambda a: f"(length({a[0]}) = 0)",
    "notempty": lambda a: f"(length({a[0]}) > 0)",
    "has": lambda a: f"array_contains({a[0]}, {a[1]})",
    "position": lambda a: f"instr({a[0]}, {a[1]})",
    "splitbychar": lambda a: _split_by_char(a),
    "intdiv": lambda a: f"({a[0]} DIV {a[1]})",
    "modulo": lambda a: f"({a[0]} % {a[1]})",
    # the *OrZero arithmetic guards: CH returns 0 where the plain
    # form throws on a zero divisor (IF evaluates lazily, so the
    # guarded branch never divides under ANSI)
    "intdivorzero": lambda a: (
        f"IF(({a[1]}) = 0, 0, ({a[0]}) DIV ({a[1]}))"),
    "moduloorzero": lambda a: (
        f"IF(({a[1]}) = 0, 0, ({a[0]}) % ({a[1]}))"),
    # named arithmetic (CH spells operators as functions in generated
    # SQL: plus/minus/multiply/divide/negate)
    "plus": lambda a: f"({a[0]} + {a[1]})",
    "minus": lambda a: f"({a[0]} - {a[1]})",
    "multiply": lambda a: f"({a[0]} * {a[1]})",
    "divide": lambda a: f"({a[0]} / {a[1]})",
    "negate": lambda a: f"(- {a[0]})",
    "startswith": lambda a: f"startswith({a[0]}, {a[1]})",
    "endswith": lambda a: f"endswith({a[0]}, {a[1]})",
    "lcase": lambda a: f"lower({a[0]})",
    "ucase": lambda a: f"upper({a[0]})",
    "substringutf8": lambda a: f"substring({', '.join(a)})",
    "lengthutf8": lambda a: f"char_length({a[0]})",
    "match": lambda a: f"({a[0]} RLIKE {a[1]})",
    # `extract` is both CH's regex extractor (2 args) and standard
    # SQL EXTRACT(unit FROM ts) (1 arg containing FROM) — pass the
    # standard form through untouched.
    "extract": lambda a: (
        f"extract({a[0]})" if len(a) == 1
        else f"regexp_extract({a[0]}, {a[1]}, 1)"),
    "replaceall": lambda a: f"replace({a[0]}, {a[1]}, {a[2]})",
    # replaceOne: substring arithmetic (locate + overlay) keeps it
    # in codegen; no-match returns the input unchanged like CH
    "replaceone": lambda a: (
        f"IF(instr({a[0]}, {a[1]}) = 0, {a[0]}, "
        f"concat(substring({a[0]}, 1, instr({a[0]}, {a[1]}) - 1), "
        f"{a[2]}, substring({a[0]}, instr({a[0]}, {a[1]}) "
        f"+ length({a[1]}))))"),
    "replaceregexpone": _unsupported(
        "replaceRegexpOne",
        "Spark's regexp_replace is replace-ALL and a first-match "
        "wrapper would shift the pattern's group numbers under the "
        "user's backreferences; use replaceRegexpAll, or anchor the "
        "pattern yourself"),
    "replaceregexpall": lambda a:
        f"regexp_replace({a[0]}, {a[1]}, {a[2]})",
    "concatws": lambda a: f"concat_ws({', '.join(a)})",
    "arraylength": lambda a: f"size({a[0]})",
    "arraysort": lambda a: f"array_sort({a[0]})",
    "arrayreversesort": lambda a: f"reverse(array_sort({a[0]}))",
    "arraymax": lambda a: f"array_max({a[0]})",
    "arraymin": lambda a: f"array_min({a[0]})",
    # arrayAvg/arraySum fold as DOUBLE/number via aggregate; CH takes
    # (arr) or (lambda, arr) — the lambda forms live with the
    # higher-order family below (arraysum handles both)
    "arrayavg": lambda a: (
        f"CAST(try_divide(aggregate({a[-1]}, CAST(0 AS DOUBLE), "
        f"(s, x) -> s + x), size({a[-1]})) AS DOUBLE)"
        if len(a) == 1 else (_ for _ in ()).throw(ChDialectError(
            "arrayAvg(lambda, arr) is unsupported; apply arrayMap "
            "first"))),
    # arrayFirst/arrayLast(lambda, arr): first/last element matching
    # the predicate (CH returns the type default when none matches;
    # NULL here — documented, the CH default-vs-NULL divergence all
    # try_-style rewrites share)
    "arrayfirst": lambda a: (
        f"try_element_at(filter({a[1]}, {a[0]}), 1)"),
    "arraylast": lambda a: (
        f"try_element_at(filter({a[1]}, {a[0]}), -1)"),
    # 1-based index of the first/last lambda match; 0 when none —
    # Spark array_position over the boolean transform returns exactly
    # CH's 0-for-no-match contract
    "arrayfirstindex": lambda a: (
        f"array_position(transform({a[1]}, {a[0]}), true)"),
    "arraylastindex": lambda a: (
        f"CASE WHEN array_position(reverse(transform({a[1]}, {a[0]}))"
        f", true) = 0 THEN 0L ELSE size({a[1]}) - array_position("
        f"reverse(transform({a[1]}, {a[0]})), true) + 1 END"),
    # ROC AUC over per-row (scores, labels) arrays — the pairwise
    # formula (ties count 1/2), O(n^2) in the ARRAY length (CH's own
    # arrayAUC is per-row too); NULL when a class is absent (CH nan).
    # CH label semantics (r11 advisor fix): any label > 0 is a
    # positive, EVERYTHING else (0, negatives) is a negative — a
    # strict =1/=0 split silently dropped nonbinary labels (2, or
    # -1/1 encodings) from both sides of the count.
    "arrayauc": lambda a: (
        f"element_at(transform(array(zip_with({a[0]}, {a[1]}, "
        f"(__s, __l) -> named_struct('sc', CAST(__s AS DOUBLE), "
        f"'lbl', CAST(__l AS DOUBLE)))), __sl -> "
        f"CASE WHEN size(filter(__sl, __p -> __p.lbl > 0)) = 0 OR "
        f"size(filter(__sl, __p -> NOT (__p.lbl > 0))) = 0 THEN "
        f"CAST(NULL AS DOUBLE) ELSE "
        f"aggregate(__sl, 0D, (__acc, __a) -> __acc + CASE WHEN "
        f"__a.lbl > 0 THEN aggregate(__sl, 0D, (__a2, __b) -> __a2 + "
        f"CASE WHEN NOT (__b.lbl > 0) THEN "
        f"(CASE WHEN __a.sc > __b.sc THEN "
        f"1.0D WHEN __a.sc = __b.sc THEN 0.5D ELSE 0D END) "
        f"ELSE 0D END) ELSE 0D END) / "
        f"(CAST(size(filter(__sl, __p -> __p.lbl > 0)) AS DOUBLE) * "
        f"size(filter(__sl, __p -> NOT (__p.lbl > 0)))) END), 1)"),
    "arraydistinct": lambda a: f"array_distinct({a[0]})",
    "arrayconcat": lambda a: f"concat({', '.join(a)})",
    "arrayslice": lambda a: f"slice({', '.join(a)})",
    "greatest": lambda a: f"greatest({', '.join(a)})",
    "least": lambda a: f"least({', '.join(a)})",
    "isnull": lambda a: f"({a[0]} IS NULL)",
    "isnotnull": lambda a: f"({a[0]} IS NOT NULL)",
    # CH's row-multiplying array expansion. Spark's explode() is the
    # same generator when it appears in the projection; Spark allows
    # ONE generator per SELECT, so multiple arrayJoins (CH semantics:
    # cartesian) are rejected up front in translate().
    "arrayjoin": lambda a: f"explode({a[0]})",
    # higher-order array family: CH puts the lambda FIRST
    # (arrayMap(x -> f, arr)), Spark SQL puts it last — and the
    # lambda syntax itself (`x -> expr`, `(x, y) -> expr`) is
    # IDENTICAL in both dialects, so translation is an argument swap.
    "arraymap": lambda a: (
        f"transform({a[1]}, {a[0]})" if len(a) == 2
        else f"zip_with({a[1]}, {a[2]}, {a[0]})" if len(a) == 3
        else (_ for _ in ()).throw(ChDialectError(
            "arrayMap supports 1 or 2 array args in the Spark "
            "translation"))),
    "arrayfilter": lambda a: f"filter({a[1]}, {a[0]})",
    "arrayexists": lambda a: f"exists({a[1]}, {a[0]})",
    "arrayall": lambda a: f"forall({a[1]}, {a[0]})",
    "arraycount": lambda a: (
        f"size(filter({a[1]}, {a[0]}))" if len(a) == 2
        else f"size(filter({a[0]}, x -> x != 0))"),
    "arraysum": lambda a: (
        f"aggregate({a[0]}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        if len(a) == 1 else
        f"aggregate(transform({a[1]}, {a[0]}), CAST(0 AS DOUBLE), "
        f"(acc, x) -> acc + x)"),
    "arrayreverse": lambda a: f"reverse({a[0]})",
    "arrayflatten": lambda a: f"flatten({a[0]})",
    # r9 wave: remaining everyday CH array vocabulary
    "arrayproduct": lambda a: (
        f"aggregate({a[0]}, CAST(1 AS DOUBLE), (acc, x) -> acc * x)"),
    "arrayintersect": lambda a: (
        _chain_binary("array_intersect", a) if len(a) >= 2
        else (_ for _ in ()).throw(ChDialectError(
            "arrayIntersect needs >= 2 arrays"))),
    # arrayResize(arr, n[, ext]): CH pads GROWTH with the element
    # type's default; the type isn't knowable from text, so the
    # 2-arg form pads NULL (documented divergence) and the 3-arg
    # form is exact. Negative sizes (resize from the end) refused.
    "arrayresize": lambda a: _array_resize(a),
    # countEqual(arr, x): occurrences of x, NULL-safe like CH
    # (countEqual([1, NULL], NULL) = 1 — <=> is the same contract)
    "countequal": lambda a: (
        f"size(filter({a[0]}, __ce -> __ce <=> ({a[1]})))"),
    # multiSearchAny(haystack, [needles...]): any needle a substring
    "multisearchany": lambda a: (
        f"exists({a[1]}, __ms -> instr({a[0]}, __ms) > 0)"),
    "arraystringconcat": lambda a: (
        f"array_join({a[0]}, {a[1] if len(a) > 1 else _q('')})"),
    "indexof": lambda a: f"array_position({a[0]}, {a[1]})",
    "anylast": lambda a: f"last({a[0]})",
    # anyHeavy's contract is a FREQUENTLY-occurring value (CH uses the
    # heavy-hitters sketch); Spark's mode() (exact most-frequent) is a
    # strictly stronger answer — any_value would silently drop the
    # frequency contract.
    "anyheavy": lambda a: f"mode({a[0]})",
    # --- r6 vocabulary wave -------------------------------------------
    # sub-hour buckets beyond toStartOfMinute: arithmetic on the unix
    # axis (CH buckets the same way)
    # fixed-width sub-hour buckets — all through _minute_bucket
    # (floor, not DIV: truncation-toward-zero misbuckets pre-1970
    # timestamps; r9 dedup of two historical definitions)
    "tostartoffiveminutes": lambda a: _minute_bucket(a[0], 300),
    # CH timeSlot = floor to the half hour
    "timeslot": lambda a: _minute_bucket(a[0], 1800),
    "tointervalsecond": lambda a: f"make_interval(0, 0, 0, 0, 0, 0, {a[0]})",
    "tointervalminute": lambda a: f"make_interval(0, 0, 0, 0, 0, {a[0]}, 0)",
    "tointervalhour": lambda a: f"make_interval(0, 0, 0, 0, {a[0]}, 0, 0)",
    "tointervalday": lambda a: f"make_interval(0, 0, 0, {a[0]}, 0, 0, 0)",
    "tointervalweek": lambda a: f"make_interval(0, 0, {a[0]}, 0, 0, 0, 0)",
    "tointervalmonth": lambda a: f"make_interval(0, {a[0]}, 0, 0, 0, 0, 0)",
    "tointervalyear": lambda a: f"make_interval({a[0]}, 0, 0, 0, 0, 0, 0)",
    # string family
    # occurrence count via length arithmetic (stays in codegen);
    # try_divide: an empty needle yields NULL, not an ANSI error
    "countsubstrings": lambda a: (
        f"CAST(try_divide(length({a[0]}) - "
        f"length(replace({a[0]}, {a[1]}, '')), "
        f"length({a[1]})) AS BIGINT)"),
    "trimboth": lambda a: f"trim({a[0]})",
    "trimleft": lambda a: f"ltrim({a[0]})",
    "trimright": lambda a: f"rtrim({a[0]})",
    "concatwithseparator": lambda a: f"concat_ws({', '.join(a)})",
    "positioncaseinsensitive": lambda a: (
        f"locate(lower({a[1]}), lower({a[0]}))"),
    "extractall": lambda a: _extract_all(a),
    "splitbystring": lambda a: _split_by_literal(a, "splitByString"),
    "base64encode": lambda a: f"base64(CAST({a[0]} AS BINARY))",
    "base64decode": lambda a: f"CAST(unbase64({a[0]}) AS STRING)",
    "formatreadablesize": lambda a: _format_readable_size(a),
    "formatreadablequantity": lambda a: _format_readable_quantity(a),
    # URL family (Spark's parse_url is the direct analog)
    "domain": lambda a: f"parse_url({a[0]}, 'HOST')",
    "path": lambda a: f"parse_url({a[0]}, 'PATH')",
    "pathfull": lambda a: (
        f"concat(parse_url({a[0]}, 'PATH'), "
        f"coalesce(concat('?', parse_url({a[0]}, 'QUERY')), ''))"),
    "querystring": lambda a: f"parse_url({a[0]}, 'QUERY')",
    "protocol": lambda a: (
        f"regexp_extract({a[0]}, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)"),
    # hash family. halfMD5 is VALUE-EXACT (first 8 MD5 bytes as a
    # big-endian unsigned int; DECIMAL(20,0) holds the UInt64 range).
    # cityHash64/sipHash64 are CH-proprietary mixers with no Spark
    # implementation: they map to xxhash64 — a DOCUMENTED VALUE
    # DIVERGENCE, sound for the dominant uses (bucketing, sampling,
    # fingerprint grouping are hash-agnostic) but NOT for comparing
    # against hashes a real ClickHouse computed. xxHash64 itself
    # passes through to Spark's native xxhash64 (same name).
    "halfmd5": lambda a: (
        f"CAST(conv(substring(md5({a[0]}), 1, 16), 16, 10) "
        f"AS DECIMAL(20, 0))"),
    "cityhash64": lambda a: f"xxhash64({', '.join(a)})",
    "siphash64": lambda a: f"xxhash64({', '.join(a)})",
    # bit family
    "bitshiftleft": lambda a: f"shiftleft({a[0]}, {a[1]})",
    "bitshiftright": lambda a: f"shiftright({a[0]}, {a[1]})",
    "bitcount": lambda a: f"bit_count({a[0]})",
    # r9 wave: CH's NAMED bitwise scalars (CH also accepts operator
    # spellings, which pass through untouched)
    "bitand": lambda a: f"({a[0]} & {a[1]})",
    "bitor": lambda a: f"({a[0]} | {a[1]})",
    "bitxor": lambda a: f"({a[0]} ^ {a[1]})",
    "bitnot": lambda a: f"(~{a[0]})",
    # CH bitTest(x, pos) -> the 0/1 bit value (UInt8 there)
    "bittest": lambda a: (
        f"(shiftright({a[0]}, CAST({a[1]} AS INT)) & 1)"),
    # grouped bitwise aggregates (CH groupBitAnd/Or/Xor == Spark's
    # native bit_and/bit_or/bit_xor)
    "groupbitand": lambda a: f"bit_and({a[0]})",
    "groupbitor": lambda a: f"bit_or({a[0]})",
    "groupbitxor": lambda a: f"bit_xor({a[0]})",
    # array/map family additions (r6 wave 2)
    "arrayzip": lambda a: f"arrays_zip({', '.join(a)})",
    "mapkeys": lambda a: f"map_keys({a[0]})",
    "mapvalues": lambda a: f"map_values({a[0]})",
    "mapcontains": lambda a: f"map_contains_key({a[0]}, {a[1]})",
    "hasall": lambda a: f"(size(array_except({a[1]}, {a[0]})) = 0)",
    "hasany": lambda a: f"arrays_overlap({a[0]}, {a[1]})",
    # dedup CONSECUTIVE equals (CH arrayCompact): Spark filter's
    # lambda index is 0-based while element_at is 1-based, so
    # element_at(arr, i) IS the previous element; <=> keeps NULL
    # elements comparable
    "arraycompact": lambda a: (
        f"filter({a[0]}, (x, i) -> i = 0 "
        f"OR NOT (x <=> element_at({a[0]}, i)))"),
    "randcanonical": lambda a: "rand()",
    # adjacent difference: element_at is 1-based so element_at(a, i)
    # with the 0-based lambda index IS the previous element; the
    # first slot is x - x (a typed zero, like CH)
    "arraydifference": lambda a: (
        f"transform({a[0]}, (x, i) -> "
        f"IF(i = 0, x - x, x - element_at({a[0]}, i)))"),
    "arraycumsum": lambda a: (
        # try_element_at: the first iteration reads the running tail
        # of an EMPTY accumulator (plain element_at throws there)
        f"aggregate({a[0]}, CAST(array() AS ARRAY<DOUBLE>), "
        f"(acc, x) -> array_append(acc, "
        f"coalesce(try_element_at(acc, -1), CAST(0 AS DOUBLE)) + x))"),
    # CH range() end is EXCLUSIVE and empty when end <= start; Spark
    # sequence() stop is inclusive and DEFAULTS TO STEP -1 when
    # stop < start (review r6: range(0) became [0, -1]) — guard the
    # empty case and pin step 1
    "range": lambda a: _ch_range(a),
    "tonullable": lambda a: a[0],
    "assumenotnull": lambda a: a[0],
    "isnan": lambda a: f"isnan({a[0]})",
    "isfinite": lambda a: (
        f"(NOT isnan({a[0]}) AND abs({a[0]}) <> double('Infinity'))"),
    "isinfinite": lambda a: f"(abs({a[0]}) = double('Infinity'))",
    "ifnotfinite": lambda a: (
        f"(CASE WHEN NOT isnan({a[0]}) "
        f"AND abs({a[0]}) <> double('Infinity') "
        f"THEN {a[0]} ELSE {a[1]} END)"),
    "farmhash64": lambda a: f"xxhash64({', '.join(a)})",
    "totypename": _unsupported(
        "toTypeName",
        "schema introspection is not an expression here; use "
        "DESCRIBE or system.columns"),
    # tuples are Spark structs; struct() names fields col1, col2, ...
    # so the positional form indexes those; the name form reads the
    # field directly
    "tupleelement": lambda a: (
        f"({a[0]}).col{a[1].strip()}" if a[1].strip().isdigit()
        else f"({a[0]}).{_string_value(a[1].strip())}"),
    # block-order-dependent CH functions (deprecated there too):
    # honest refusal with the window-function rewrite
    "runningdifference": _unsupported(
        "runningDifference",
        "block-order dependent; use `x - lag(x) OVER (ORDER BY ...)`"),
    "runningaccumulate": _unsupported(
        "runningAccumulate",
        "block-order dependent; use `sum(x) OVER (ORDER BY ... ROWS "
        "UNBOUNDED PRECEDING)`"),
    # CH's frame-respecting lag/lead (its bare lag/lead are aliases
    # with frame caveats); Spark's lag/lead carry the same
    # (x[, offset[, default]]) signature
    "laginframe": lambda a: f"lag({', '.join(a)})",
    "leadinframe": lambda a: f"lead({', '.join(a)})",
    "neighbor": _unsupported(
        "neighbor",
        "block-order dependent; use lag()/lead() OVER (ORDER BY ...)"),
    # hasToken: CH tokenizes on ALL non-alphanumeric ASCII —
    # underscore included (hasToken('a_b', 'a') is TRUE in CH; the
    # r8 class kept `_` inside tokens, a documented-now-fixed
    # divergence) — and is case-SENSITIVE; the CaseInsensitive
    # variant lowercases both sides (same boundary class — lowering
    # doesn't move boundaries). skip_index._tokens_expr shares the
    # class so the tokenbf index and this predicate can never drift.
    "hastoken": lambda a: (
        f"array_contains(split({a[0]}, '[^a-zA-Z0-9]+'), {a[1]})"),
    "hastokencaseinsensitive": lambda a: (
        f"array_contains(split(lower({a[0]}), '[^a-z0-9]+'), "
        f"lower({a[1]}))"),
    "entropy": _unsupported(
        "entropy",
        "needs a two-level aggregation (per-value counts first); use "
        "operators.ch_functions.entropy (same log2 Shannon "
        "definition)"),
    # statistics family: CH camelCase -> Spark snake_case (unmapped
    # these would hit UNRESOLVED_ROUTINE, not mistranslate — but a
    # CH user expects them to just work)
    "stddevpop": lambda a: f"stddev_pop({a[0]})",
    "stddevsamp": lambda a: f"stddev_samp({a[0]})",
    "varpop": lambda a: f"var_pop({a[0]})",
    "varsamp": lambda a: f"var_samp({a[0]})",
    "covarpop": lambda a: f"covar_pop({a[0]}, {a[1]})",
    "covarsamp": lambda a: f"covar_samp({a[0]}, {a[1]})",
    # r9 wave: higher moments. Spark's skewness IS the population
    # skewness (m3/m2^1.5); Spark's kurtosis is population EXCESS
    # kurtosis, CH kurtPop is non-excess -> +3. The *Samp variants
    # use sample moments Spark lacks — refused, not approximated.
    "skewpop": lambda a: f"skewness({a[0]})",
    "kurtpop": lambda a: f"(kurtosis({a[0]}) + 3.0D)",
    "skewsamp": _unsupported(
        "skewSamp", "Spark has only the population estimator — use "
        "skewPop (skewness)"),
    "kurtsamp": _unsupported(
        "kurtSamp", "Spark has only the population estimator — use "
        "kurtPop (kurtosis + 3)"),
    # simpleLinearRegression(x, y) -> (k, b); Spark's regr_* take
    # (y, x) — dependent first — so the argument order swaps
    "simplelinearregression": lambda a: (
        f"named_struct('k', regr_slope({a[1]}, {a[0]}), "
        f"'b', regr_intercept({a[1]}, {a[0]}))"),
    "roundbankers": lambda a: f"bround({', '.join(a)})",
    "generateuuidv4": lambda a: "uuid()",
    # block-order-dependent aggregates: honest refusals with the
    # deterministic rewrite (same policy as runningAccumulate)
    "deltasum": _unsupported(
        "deltaSum", "block-order dependent; use sum(greatest(x - "
        "lag(x) OVER (ORDER BY <key>), 0)) for a deterministic "
        "positive-delta sum"),
    "exponentialmovingaverage": _unsupported(
        "exponentialMovingAverage", "block-order dependent; compute "
        "over an explicit ORDER BY with avg(...) OVER (ORDER BY "
        "<ts> ROWS BETWEEN n PRECEDING AND CURRENT ROW) or the "
        "gap-fill operator's EMA"),
    "maxmap": _unsupported(
        "maxMap", "shape-changing map aggregate; use "
        "operators.ch_functions.sum_map's exploded (group, map_key) "
        "form with agg='max'"),
    "minmap": _unsupported(
        "minMap", "shape-changing map aggregate; use "
        "operators.ch_functions.sum_map's exploded (group, map_key) "
        "form with agg='min'"),
    "uniqcombined64": lambda a: f"approx_count_distinct({a[0]})",
    # CAST: CH returns Float64; without it Spark's decimal literals
    # would propagate DECIMAL division into the result type
    "avgweighted": lambda a: (
        f"CAST(sum(({a[0]}) * ({a[1]})) / sum({a[1]}) AS DOUBLE)"),
    # boundingRatio(x, y): slope between the leftmost and rightmost
    # points — (y at max x − y at min x) / (max x − min x).
    # try_divide: a single-point group has zero x-span; CH emits nan
    # there, this engine NULL (documented divergence — ANSI mode
    # raises on the raw division)
    "boundingratio": lambda a: (
        f"CAST(try_divide(max_by({a[1]}, {a[0]}) - "
        f"min_by({a[1]}, {a[0]}), "
        f"max({a[0]}) - min({a[0]})) AS DOUBLE)"),
    # sub-hour buckets (CH's fixed five/ten/fifteen-minute grids)
    "tostartofinterval": _to_start_of_interval,
    "tostartoffiveminute": lambda a: _minute_bucket(a[0], 300),
    "tostartoftenminutes": lambda a: _minute_bucket(a[0], 600),
    "tostartoffifteenminutes": lambda a: _minute_bucket(a[0], 900),
    "toquarter": lambda a: f"quarter({a[0]})",
    "leftpad": lambda a: f"lpad({', '.join(a)})",
    "rightpad": lambda a: f"rpad({', '.join(a)})",
    # table function: FROM numbers(N) — CH's row generator
    # numbers(N) / numbers(offset, N) (r9 adds the 2-arg form)
    "numbers": lambda a: (
        f"(SELECT id AS number FROM range({a[0]}))" if len(a) == 1
        else f"(SELECT id AS number FROM range({a[0]}, "
             f"({a[0]}) + ({a[1]})))" if len(a) == 2
        else (_ for _ in ()).throw(ChDialectError(
            "numbers(N) or numbers(offset, N)"))),
    # --- r9 vocabulary wave 5 ------------------------------------------
    # URL family completion. CH's URL functions return '' (never
    # NULL) on absent components — coalesced where parse_url yields
    # NULL. topLevelDomain of a dot-less host is '' like CH.
    "topleveldomain": lambda a: (
        f"coalesce(CASE WHEN instr(parse_url({a[0]}, 'HOST'), '.') > 0 "
        f"THEN element_at(split(parse_url({a[0]}, 'HOST'), '\\\\.'), -1) "
        f"ELSE '' END, '')"),
    "extracturlparameter": lambda a: (
        f"coalesce(parse_url({a[0]}, 'QUERY', {a[1]}), '')"),
    "netloc": lambda a: f"coalesce(parse_url({a[0]}, 'AUTHORITY'), '')",
    "fragment": lambda a: f"coalesce(parse_url({a[0]}, 'REF'), '')",
    # cutQueryString removes '?query' but KEEPS '#fragment' (CH has
    # the AndFragment variant for both); '#' precedes '?' never in a
    # well-formed URL, so the fragment tail starts at instr('#')
    "cutquerystring": lambda a: (
        f"IF(instr({a[0]}, '?') = 0, {a[0]}, "
        f"concat(substring({a[0]}, 1, instr({a[0]}, '?') - 1), "
        f"IF(instr({a[0]}, '#') > 0, "
        f"substring({a[0]}, instr({a[0]}, '#')), '')))"),
    "cutfragment": lambda a: (
        f"IF(instr({a[0]}, '#') = 0, {a[0]}, "
        f"substring({a[0]}, 1, instr({a[0]}, '#') - 1))"),
    "cutquerystringandfragment": lambda a: (
        f"substring({a[0]}, 1, "
        f"least(IF(instr({a[0]}, '?') = 0, length({a[0]}) + 1, "
        f"instr({a[0]}, '?')), IF(instr({a[0]}, '#') = 0, "
        f"length({a[0]}) + 1, instr({a[0]}, '#'))) - 1)"),
    # CH's first-significant-subdomain heuristic: the label before
    # the TLD, unless that label is itself a generic second-level
    # registrar (com/net/org/co/gov/edu/mil/ac) — then one deeper
    # (news.clickhouse.com.tr -> 'clickhouse'). CH ships a
    # public-suffix list; this is its documented fallback heuristic.
    "firstsignificantsubdomain": lambda a: (
        f"coalesce(CASE WHEN size(split(parse_url({a[0]}, 'HOST'), "
        f"'\\\\.')) < 2 THEN '' WHEN size(split(parse_url({a[0]}, "
        f"'HOST'), '\\\\.')) >= 3 AND element_at(split(parse_url("
        f"{a[0]}, 'HOST'), '\\\\.'), -2) IN ('com', 'net', 'org', "
        f"'co', 'gov', 'edu', 'mil', 'ac') THEN element_at(split("
        f"parse_url({a[0]}, 'HOST'), '\\\\.'), -3) ELSE element_at("
        f"split(parse_url({a[0]}, 'HOST'), '\\\\.'), -2) END, '')"),
    # the domain STARTING at the first significant subdomain —
    # same generic-SLD heuristic, keeping the last 3 (or 2) labels
    # (news.clickhouse.com.tr -> 'clickhouse.com.tr')
    "cuttofirstsignificantsubdomain": lambda a: (
        f"coalesce(CASE WHEN size(split(parse_url({a[0]}, 'HOST'), "
        f"'\\\\.')) < 2 THEN '' WHEN size(split(parse_url({a[0]}, "
        f"'HOST'), '\\\\.')) >= 3 AND element_at(split(parse_url("
        f"{a[0]}, 'HOST'), '\\\\.'), -2) IN ('com', 'net', 'org', "
        f"'co', 'gov', 'edu', 'mil', 'ac') THEN concat_ws('.', "
        f"slice(split(parse_url({a[0]}, 'HOST'), '\\\\.'), -3, 3)) "
        f"ELSE concat_ws('.', slice(split(parse_url({a[0]}, 'HOST'), "
        f"'\\\\.'), -2, 2)) END, '')"),
    # encode: Spark url_encode is form-encoding; CH is RFC-3986. Three
    # fixups close the gap: space ('+' -> '%20'), '*' (form leaves it
    # bare, RFC encodes '%2A'), '~' (form encodes '%7E', RFC leaves it
    # bare). The replaces cannot interact: url_encode emits literal
    # '+' only for spaces and literal '*' only for '*'.
    # decode: protect literal '+' first (CH does not decode '+' to
    # space).
    "encodeurlcomponent": lambda a: (
        f"replace(replace(replace(url_encode({a[0]}), '+', '%20'), "
        f"'*', '%2A'), '%7E', '~')"),
    "decodeurlcomponent": lambda a: (
        f"url_decode(replace({a[0]}, '+', '%2B'))"),
    # IPv4 family. StringToNum raises on malformed input like CH
    # (raise_error, not a silent wrong number from a short split);
    # the OrNull guard variant yields NULL. Leading zeros are
    # invalid, as in CH.
    "ipv4numtostring": lambda a: (
        f"concat_ws('.', CAST((shiftright({a[0]}, 24) & 255) AS STRING), "
        f"CAST((shiftright({a[0]}, 16) & 255) AS STRING), "
        f"CAST((shiftright({a[0]}, 8) & 255) AS STRING), "
        f"CAST(({a[0]} & 255) AS STRING))"),
    "ipv4stringtonum": lambda a: (
        f"CASE WHEN {_ipv4_valid(a[0])} THEN {_ipv4_to_num(a[0])} "
        f"WHEN {a[0]} IS NULL THEN CAST(NULL AS BIGINT) "
        f"ELSE CAST(raise_error(concat('IPv4StringToNum: invalid "
        f"IPv4 string: ', {a[0]})) AS BIGINT) END"),
    "ipv4stringtonumornull": lambda a: (
        f"CASE WHEN {_ipv4_valid(a[0])} THEN {_ipv4_to_num(a[0])} END"),
    "isipv4string": lambda a: f"CAST({_ipv4_valid(a[0])} AS INT)",
    "ipv6numtostring": _unsupported(
        "IPv6NumToString",
        "IPv6 compression rules have no compact Spark expression; "
        "store IPv4 as UInt32 or the dotted string"),
    # array enumerations. transform's 0-based lambda index is the
    # empty-safe way to build [1..n] (sequence(1, 0) DESCENDS).
    # Dense ranks ride array_distinct's first-occurrence order;
    # Uniq counts occurrences within the prefix (NULL-safe <=>).
    "arrayenumerate": lambda a: (
        f"transform({a[0]}, (__x, __i) -> __i + 1)"),
    "arrayenumeratedense": lambda a: (
        f"transform({a[0]}, __x -> "
        f"array_position(array_distinct({a[0]}), __x))"),
    "arrayenumerateuniq": lambda a: (
        f"transform({a[0]}, (__x, __i) -> "
        f"size(filter(slice({a[0]}, 1, __i + 1), __y -> __y <=> __x)))"),
    "alphatokens": lambda a: (
        f"filter(split({a[0]}, '[^A-Za-z]+'), __t -> __t != '')"),
    "tokens": lambda a: (
        f"filter(split({a[0]}, '[^A-Za-z0-9]+'), __t -> __t != '')"),
    "splitbywhitespace": lambda a: (
        f"filter(split({a[0]}, '\\\\s+'), __t -> __t != '')"),
    # CH splitByRegexp takes (regexp, s) — reversed from Spark split
    "splitbyregexp": lambda a: f"split({a[1]}, {a[0]})",
    # character n-grams; the length guard keeps sequence() ascending
    "ngrams": lambda a: (
        f"CASE WHEN char_length({a[0]}) >= ({a[1]}) THEN "
        f"transform(sequence(1, char_length({a[0]}) - ({a[1]}) + 1), "
        f"__i -> substring({a[0]}, __i, {a[1]})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"),
    # multi-needle search completion (multiSearchAny shipped r9 w3)
    "multisearchallpositions": lambda a: (
        f"transform({a[1]}, __n -> instr({a[0]}, __n))"),
    "multisearchfirstposition": lambda a: (
        f"coalesce(array_min(filter(transform({a[1]}, "
        f"__n -> instr({a[0]}, __n)), __p -> __p > 0)), 0)"),
    # leftmost occurrence wins; position ties resolve to the earliest
    # needle in the list (array_position returns the first match)
    "multisearchfirstindex": lambda a: (
        f"coalesce(array_position(transform({a[1]}, "
        f"__n -> instr({a[0]}, __n)), array_min(filter(transform("
        f"{a[1]}, __n -> instr({a[0]}, __n)), __p -> __p > 0))), 0)"),
    "countmatches": lambda a: (
        f"size(regexp_extract_all({a[0]}, {a[1]}, 0))"),
    # transform-as-dictionary + the rounding set family
    "transform": _ch_transform,
    "rounddown": lambda a: _round_down_to_set(a[0], a[1]),
    # CH roundAge's fixed buckets (docs: 0, 17, 18, 25, 35, 45, 55)
    "roundage": lambda a: (
        f"CASE WHEN ({a[0]}) < 1 THEN 0 WHEN ({a[0]}) <= 17 THEN 17 "
        f"WHEN ({a[0]}) <= 24 THEN 18 WHEN ({a[0]}) <= 34 THEN 25 "
        f"WHEN ({a[0]}) <= 44 THEN 35 WHEN ({a[0]}) <= 54 THEN 45 "
        f"ELSE 55 END"),
    # CH roundDuration = roundDown over its documented seconds grid
    "roundduration": lambda a: _round_down_to_set(
        a[0], "array(0, 1, 10, 30, 60, 120, 180, 240, 300, 600, "
              "1200, 1800, 3600, 7200, 18000, 36000)"),
    "intexp2": lambda a: (
        f"shiftleft(CAST(1 AS BIGINT), CAST({a[0]} AS INT))"),
    # 10^n exact for the CH-defined n <= 18 (all fit a double's
    # 53-bit mantissa via the 5^n factor; round() clears the last ulp)
    "intexp10": lambda a: (
        f"CAST(round(power(10, {a[0]})) AS BIGINT)"),
    "roundtoexp2": lambda a: (
        f"IF(({a[0]}) < 1, 0, shiftleft(CAST(1 AS BIGINT), "
        f"CAST(floor(log2({a[0]})) AS INT)))"),
    # generic-unit date arithmetic routed through the add*/subtract*
    # family (identical clamping); the INTERVAL form is native
    "dateadd": lambda a: _date_add_sub(a, "add", "dateAdd"),
    "datesub": lambda a: _date_add_sub(a, "subtract", "dateSub"),
    "timestampadd": lambda a: _date_add_sub(a, "add", "timestampAdd"),
    "timestampsub": lambda a: _date_add_sub(a, "subtract", "timestampSub"),
    # toTime: keep the time-of-day, pin the date to 1970-01-02 (CH's
    # documented anchor day)
    "totime": lambda a: (
        f"(timestamp'1970-01-02 00:00:00' + "
        f"({a[0]} - date_trunc('DAY', {a[0]})))"),
    "monthname": lambda a: f"date_format({a[0]}, 'MMMM')",
    # toRelative*Num: epoch-anchored unit counters. floor-division
    # (not DIV) keeps pre-1970 values on the grid; month/year are
    # calendar counters (CH: year*12 + month). Week is refused — its
    # CH anchor is an implementation detail no doc pins down.
    "torelativesecondnum": lambda a: f"unix_timestamp({a[0]})",
    "torelativeminutenum": lambda a: (
        f"CAST(floor(unix_timestamp({a[0]}) / 60) AS BIGINT)"),
    "torelativehournum": lambda a: (
        f"CAST(floor(unix_timestamp({a[0]}) / 3600) AS BIGINT)"),
    "torelativedaynum": lambda a: (
        f"CAST(floor(unix_timestamp({a[0]}) / 86400) AS BIGINT)"),
    "torelativemonthnum": lambda a: (
        f"(year({a[0]}) * 12 + month({a[0]}))"),
    "torelativeyearnum": lambda a: f"year({a[0]})",
    "torelativeweeknum": _unsupported(
        "toRelativeWeekNum",
        "CH's epoch-week anchor is undocumented; use "
        "toRelativeDayNum DIV 7 or toStartOfWeek"),
    # hash family completion. MD5/SHA* return BINARY digests like
    # CH's FixedString (wrap in hex() for the printable form).
    # sipHash128/xxHash32 follow the cityHash64 precedent: mapped to
    # a Spark-native hash of the same shape — a DOCUMENTED VALUE
    # DIVERGENCE, sound for bucketing/fingerprinting, not for
    # comparing against hashes a real ClickHouse computed.
    "md5": lambda a: f"unhex(md5({a[0]}))",
    "sha1": lambda a: f"unhex(sha1({a[0]}))",
    "sha224": lambda a: f"unhex(sha2({a[0]}, 224))",
    "sha256": lambda a: f"unhex(sha2({a[0]}, 256))",
    "sha512": lambda a: f"unhex(sha2({a[0]}, 512))",
    "siphash128": lambda a: f"unhex(md5({', '.join(a)}))",
    "xxhash32": lambda a: (
        f"CAST((xxhash64({', '.join(a)}) & 4294967295) AS BIGINT)"),
    "bithammingdistance": lambda a: (
        f"bit_count(({a[0]}) ^ ({a[1]}))"),
    # r10 wave 8: math/date/map completions. exp2/exp10 as power;
    # gcd/lcm as a BOUNDED Euclid fold (64 iterations cover any
    # 64-bit pair; gcd(0,0) -> 0 where CH throws — documented
    # softening); the 64-bit unix-timestamp family at the engine's
    # micros precision (the Nano forms truncate/scale through
    # micros, documented); mapSubtract keeps every key like CH;
    # groupArrayDistinct sorts the set (CH order is unspecified —
    # deterministic strengthening); sumKahan maps to the plain
    # double sum (Spark's aggregate; compensation is an accuracy
    # promise CH itself scopes to within-block).
    "exp2": lambda a: f"power(2.0D, {a[0]})",
    "exp10": lambda a: f"power(10.0D, {a[0]})",
    "gcd": lambda a: (
        f"aggregate(sequence(1, 64), named_struct("
        f"'a', CAST(abs({a[0]}) AS BIGINT), "
        f"'b', CAST(abs({a[1]}) AS BIGINT)), "
        f"(__g, __i) -> CASE WHEN __g.b = 0 THEN __g ELSE "
        f"named_struct('a', __g.b, 'b', __g.a % __g.b) END, "
        f"__g -> __g.a)"),
    "lcm": lambda a: (
        f"CASE WHEN {a[0]} = 0 OR {a[1]} = 0 THEN 0L ELSE "
        f"abs(CAST({a[0]} AS BIGINT) div aggregate(sequence(1, 64), "
        f"named_struct('a', CAST(abs({a[0]}) AS BIGINT), "
        f"'b', CAST(abs({a[1]}) AS BIGINT)), "
        f"(__g, __i) -> CASE WHEN __g.b = 0 THEN __g ELSE "
        f"named_struct('a', __g.b, 'b', __g.a % __g.b) END, "
        f"__g -> __g.a) * CAST({a[1]} AS BIGINT)) END"),
    "tounixtimestamp64milli": lambda a: f"unix_millis({a[0]})",
    "tounixtimestamp64micro": lambda a: f"unix_micros({a[0]})",
    "tounixtimestamp64nano": lambda a: f"unix_micros({a[0]}) * 1000L",
    "fromunixtimestamp64milli": lambda a: f"timestamp_millis({a[0]})",
    "fromunixtimestamp64micro": lambda a: f"timestamp_micros({a[0]})",
    "fromunixtimestamp64nano": lambda a: (
        f"timestamp_micros(CAST({a[0]} AS BIGINT) div 1000)"),
    "mapsubtract": lambda a: (
        f"map_zip_with({a[0]}, {a[1]}, "
        f"(__k, __v1, __v2) -> coalesce(__v1, 0) - coalesce(__v2, 0))"),
    "grouparraydistinct": lambda a: (
        f"array_sort(collect_set({a[0]}))"),
    "sumkahan": lambda a: f"sum(CAST({a[0]} AS DOUBLE))",
    # sum of POSITIVE deltas between consecutive values in `ts`
    # order — CH's counter-rate aggregate (handles counter resets by
    # ignoring negative jumps). Same collect+sort+fold shape as
    # intervalLengthSum; value order is pinned by (ts, value) so ties
    # are deterministic (CH's same-ts order is unspecified).
    # SCALE CONTRACT (r11, SCALING.md "per-group collect"): an
    # expression-level lowering cannot restructure the caller's
    # GROUP BY, so this buffers O(group) — the same finalize state
    # ClickHouse's own deltaSumTimestamp keeps. Admissible only on
    # grouping keys that bound the group size; for unbounded groups
    # use the lag()-window positive-delta sum (the plan
    # agg_counter_delta_sum pins in queries/analytics.py).
    "deltasumtimestamp": lambda a: (
        f"aggregate(array_sort(collect_list(named_struct("
        f"'t', {a[1]}, 'v', CAST({a[0]} AS DOUBLE)))), "
        f"named_struct('tot', CAST(0 AS DOUBLE), "
        f"'prev', CAST(NULL AS DOUBLE)), "
        f"(__ac, __x) -> named_struct("
        f"'tot', __ac.tot + CASE WHEN __ac.prev IS NOT NULL AND "
        f"__x.v > __ac.prev THEN __x.v - __ac.prev ELSE 0D END, "
        f"'prev', __x.v), "
        f"__ac -> __ac.tot)"),
    # union length of [start, end) intervals per group (overlaps
    # counted once): sort the collected intervals, sweep-fold merging
    # the current segment. Numeric (integer) bounds; group state is
    # O(#intervals in group) during the fold — CH's own
    # intervalLengthSum is per-group too.
    # SCALE CONTRACT (r11, SCALING.md "per-group collect"): bounded
    # grouping keys only; for unbounded groups use the
    # gaps-and-islands window sweep (the plan agg_interval_coverage
    # pins in queries/analytics.py).
    "intervallengthsum": lambda a: (
        f"aggregate(array_sort(collect_list(named_struct("
        f"'s', CAST({a[0]} AS BIGINT), 'e', CAST({a[1]} AS BIGINT)))), "
        f"named_struct('tot', 0L, 'cs', CAST(NULL AS BIGINT), "
        f"'ce', CAST(NULL AS BIGINT)), "
        f"(__ac, __iv) -> CASE "
        f"WHEN __ac.ce IS NULL THEN named_struct('tot', 0L, "
        f"'cs', __iv.s, 'ce', __iv.e) "
        f"WHEN __iv.s > __ac.ce THEN named_struct("
        f"'tot', __ac.tot + (__ac.ce - __ac.cs), "
        f"'cs', __iv.s, 'ce', __iv.e) "
        f"ELSE named_struct('tot', __ac.tot, 'cs', __ac.cs, "
        f"'ce', greatest(__ac.ce, __iv.e)) END, "
        f"__ac -> CASE WHEN __ac.ce IS NULL THEN 0L "
        f"ELSE __ac.tot + (__ac.ce - __ac.cs) END)"),
    # JSON introspection completion
    # CH returns 0 (not NULL) for scalar / invalid / non-container
    # documents; NULL input stays NULL. size(NULL) is NULL here
    # (legacy sizeOfNull is off in Spark 3+), so coalesce sees it.
    "jsonlength": lambda a: (
        f"CASE WHEN ({a[0]}) IS NULL THEN CAST(NULL AS INT) "
        f"ELSE coalesce(json_array_length({a[0]}), "
        f"size(json_object_keys({a[0]})), 0) END" if len(a) == 1
        else (_ for _ in ()).throw(ChDialectError(
            "JSONLength with a path: extract the subtree with "
            "JSONExtractRaw first"))),
    "jsontype": _json_type,
    "jsonextractraw": lambda a: (
        a[0] if len(a) == 1
        else f"get_json_object({a[0]}, concat('$.', {a[1]}))"),
    "jsonextractarrayraw": _json_extract_array_raw,
    # visitParam*/simpleJSON* (the legacy fast-JSON family); CH scans
    # any depth, this reads top-level — documented in _simple_json
    "visitparamextractstring": _simple_json(None),
    "visitparamextractint": _simple_json("BIGINT"),
    "visitparamextractfloat": _simple_json("DOUBLE"),
    "visitparamextractbool": _simple_json(None, as_bool=True),
    "visitparamhas": lambda a: (
        f"(get_json_object({a[0]}, concat('$.', {a[1]})) IS NOT NULL)"),
    "simplejsonextractstring": _simple_json(None),
    "simplejsonextractint": _simple_json("BIGINT"),
    "simplejsonextractfloat": _simple_json("DOUBLE"),
    "simplejsonextractbool": _simple_json(None, as_bool=True),
    "simplejsonhas": lambda a: (
        f"(get_json_object({a[0]}, concat('$.', {a[1]})) IS NOT NULL)"),
    # geo: haversine on the R=6371 km sphere, (lon, lat, lon, lat)
    # argument order like CH. CH applies an ellipsoid correction —
    # values agree to ~0.5% (documented approximation); geoDistance
    # shares the mapping.
    "greatcircledistance": lambda a: (
        f"(2 * 6371000 * asin(sqrt(power(sin(radians(({a[3]}) - "
        f"({a[1]})) / 2), 2) + cos(radians({a[1]})) * "
        f"cos(radians({a[3]})) * power(sin(radians(({a[2]}) - "
        f"({a[0]})) / 2), 2))))"),
    "geodistance": lambda a: (
        f"(2 * 6371000 * asin(sqrt(power(sin(radians(({a[3]}) - "
        f"({a[1]})) / 2), 2) + cos(radians({a[1]})) * "
        f"cos(radians({a[3]})) * power(sin(radians(({a[2]}) - "
        f"({a[0]})) / 2), 2))))"),
    "pointinpolygon": _unsupported(
        "pointInPolygon",
        "polygon containment needs a geometry library; pre-compute "
        "containment flags at ingest or use an H3-style cell join"),
    # query normalization (literals -> '?'; token-approximate)
    "normalizequery": _normalize_query,
    "normalizedqueryhash": lambda a: (
        f"xxhash64({_normalize_query(a)})"),
    # server introspection constants (single-engine deployment)
    "hostname": lambda a: "'localhost'",
    "version": lambda a: "'24.1.0-pyspark'",
    "currentdatabase": lambda a: "'default'",
    "currentuser": lambda a: "'default'",
    "uptime": _unsupported(
        "uptime", "server-state dependent; query the /v1/stats API"),
    "sleep": _unsupported(
        "sleep", "side-effecting; no place in a declarative plan"),
    "sleepeachrow": _unsupported(
        "sleepEachRow", "side-effecting; no place in a declarative plan"),
    # tuples/maps/annotations
    "tuple": lambda a: f"struct({', '.join(a)})",
    "untuple": _unsupported(
        "untuple", "needs star expansion at parse level; select the "
        "struct and read fields with tupleElement / t.*"),
    "mapfromarrays": lambda a: f"map_from_arrays({a[0]}, {a[1]})",
    "tolowcardinality": lambda a: a[0],
    # CH rand() is a uniform UInt32, not [0, 1) (randCanonical is the
    # unit-interval one — mapped above); rand64/randConstant have no
    # deterministic Spark analog of the same contract
    "rand": lambda a: (
        "CAST(floor(rand() * 4294967296) AS BIGINT)"),
    "rand64": _unsupported(
        "rand64", "no 64-bit uniform source; compose two rand() "
        "words or use xxHash64 of a unique column"),
    "randconstant": _unsupported(
        "randConstant", "per-query-constant randomness; bind a "
        "literal client-side or hash a constant seed column"),
    "randnormal": lambda a: (
        f"(({a[0]}) + randn() * sqrt({a[1]}))" if len(a) == 2
        else "randn()"),
    "randuniform": lambda a: (
        f"(({a[0]}) + rand() * (({a[1]}) - ({a[0]})))"),
    # conditional-aggregate completion (max_by/min_by skip NULL keys,
    # so the IF-gate is exactly the -If combinator contract)
    "argmaxif": lambda a: (
        f"max_by({a[0]}, IF({a[2]}, {a[1]}, NULL))"),
    "argminif": lambda a: (
        f"min_by({a[0]}, IF({a[2]}, {a[1]}, NULL))"),
    "anyif": lambda a: (
        f"any_value(IF({a[1]}, {a[0]}, NULL), true)"),
    "uniqif": lambda a: (
        f"approx_count_distinct(IF({a[1]}, {a[0]}, NULL))"),
    "uniqexactif": lambda a: (
        f"count(DISTINCT IF({a[1]}, {a[0]}, NULL))"),
    "sumcount": lambda a: (
        f"named_struct('sum', sum({a[0]}), 'count', count({a[0]}))"),
    "grouparraymovingsum": _unsupported(
        "groupArrayMovingSum", "block-order dependent; use sum(x) "
        "OVER (ORDER BY <key> ROWS n PRECEDING)"),
    "grouparraymovingavg": _unsupported(
        "groupArrayMovingAvg", "block-order dependent; use avg(x) "
        "OVER (ORDER BY <key> ROWS n PRECEDING)"),
    # --- r9 vocabulary wave 6: the array/map toolkit -------------------
    # hasSubstr: contiguous subsequence (hasAll is the subset form);
    # empty needle matches like CH
    "hassubstr": lambda a: (
        f"CASE WHEN size({a[1]}) = 0 THEN true "
        f"WHEN size({a[0]}) < size({a[1]}) THEN false "
        f"ELSE exists(transform(sequence(1, size({a[0]}) - size({a[1]}) "
        f"+ 1), __i -> slice({a[0]}, __i, size({a[1]}))), "
        f"__s -> __s = ({a[1]})) END"),
    # rotations/shifts. pmod handles n > size and negative n; the
    # empty guard dodges slice's zero-length edge
    "arrayrotateleft": lambda a: _array_rotate(a[0], a[1], left=True),
    "arrayrotateright": lambda a: _array_rotate(a[0], a[1], left=False),
    "arrayshiftleft": lambda a: _array_shift(a, left=True),
    "arrayshiftright": lambda a: _array_shift(a, left=False),
    # arrayFill/arrayReverseFill: forward/backward fill where the
    # predicate fails — the fold appends the PREVIOUS OUTPUT element
    # (already filled), so one pass suffices; slice(arr, 1, 0) is the
    # typed empty accumulator; leading failers keep their value like
    # CH (nothing to fill from yet)
    "arrayfill": lambda a: _array_fill(a[0], a[1]),
    "arrayreversefill": lambda a: (
        f"reverse({_array_fill(a[0], f'reverse({a[1]})')})"),
    # arraySplit: cut BEFORE each element the predicate marks;
    # arrayReverseSplit cuts AFTER (CH docs) — reverse twice at both
    # array and group level
    "arraysplit": lambda a: _array_split(a[0], a[1]),
    "arrayreversesplit": lambda a: (
        f"reverse(transform({_array_split(a[0], f'reverse({a[1]})')}, "
        f"__g -> reverse(__g)))"),
    # arrayFold: CH lambda is (acc, x) — same shape as Spark's
    # aggregate merge lambda; only the argument order of the CALL
    # differs
    "arrayfold": lambda a: (
        f"aggregate({a[1]}, {a[2]}, {a[0]})" if len(a) == 3
        else (_ for _ in ()).throw(ChDialectError(
            "arrayFold(lambda, arr, init) — multi-array form "
            "unsupported; zip first"))),
    "arrayshuffle": _unsupported(
        "arrayShuffle", "nondeterministic; shuffle with a seeded key "
        "(arraySort by xxHash64 of the element + a seed literal)"),
    # map toolkit. Spark's map_filter has the (map, lambda) order.
    "mapfilter": lambda a: f"map_filter({a[1]}, {a[0]})",
    # mapUpdate(m1, m2): m2 wins on key conflicts — Spark map_concat
    # refuses duplicate keys, so drop m2's keys from m1 first
    "mapupdate": lambda a: (
        f"map_concat(map_filter({a[0]}, (__k, __v) -> "
        f"NOT map_contains_key({a[1]}, __k)), {a[1]})"),
    "mapcontainskeylike": lambda a: (
        f"exists(map_keys({a[0]}), __k -> __k LIKE {a[1]})"),
    "mapextractkeylike": lambda a: (
        f"map_filter({a[0]}, (__k, __v) -> __k LIKE {a[1]})"),
    "mapapply": _unsupported(
        "mapApply", "Spark transforms keys and values separately; "
        "use transform_keys(map, (k, v) -> ...) / transform_values"),
    "mapadd": _unsupported(
        "mapAdd", "elementwise map arithmetic: explode to (key, v) "
        "rows and aggregate, or operators.ch_functions.sum_map"),
    # --- r9 vocabulary wave 7: string distance + datetime niceties ----
    "levenshteindistance": lambda a: f"levenshtein({a[0]}, {a[1]})",
    "editdistance": lambda a: f"levenshtein({a[0]}, {a[1]})",
    # set-Jaccard over elements / distinct characters (CH 23.x names)
    "arrayjaccardindex": lambda a: (
        f"CAST(try_divide(size(array_intersect({a[0]}, {a[1]})), "
        f"size(array_union({a[0]}, {a[1]}))) AS DOUBLE)"),
    "stringjaccardindex": lambda a: (
        f"CAST(try_divide("
        f"size(array_intersect(split({a[0]}, ''), split({a[1]}, ''))), "
        f"size(array_union(split({a[0]}, ''), split({a[1]}, '')))) "
        f"AS DOUBLE)"),
    "initcaputf8": lambda a: f"initcap({a[0]})",
    "positionutf8": lambda a: f"instr({a[0]}, {a[1]})",
    # dateName('part', d): the textual calendar-part family
    "datename": _date_name,
    # timeSlots(start, duration[, size]): the grid timestamps the
    # window [start, start+duration] touches, anchored to the grid
    # (CH floors the START to the slot; default size 1800 s)
    "timeslots": lambda a: (
        f"sequence(timestamp_seconds(floor(unix_timestamp({a[0]}) "
        f"/ {a[2] if len(a) > 2 else 1800}) "
        f"* {a[2] if len(a) > 2 else 1800}), "
        f"({a[0]} + make_interval(0, 0, 0, 0, 0, 0, {a[1]})), "
        f"make_interval(0, 0, 0, 0, 0, 0, "
        f"{a[2] if len(a) > 2 else 1800}))"),
    "tupleconcat": lambda a: _unsupported(
        "tupleConcat", "struct concatenation needs field renumbering "
        "at parse level; select the fields explicitly")(a),
    "formatbytes": lambda a: _format_readable_size(a),
    # ---- dialect wave 9 (r11) -------------------------------------
    # CH roaring-bitmap family over UInt values. Spark analog: a
    # SORTED DISTINCT BIGINT ARRAY is the bitmap's value set — every
    # set operation is an array op, cardinalities are sizes. Honest
    # divergence: CH bitmapMin/Max return UINT32_MAX/0 on an empty
    # bitmap; array_min/max return NULL (the try-style rule all
    # empty-input rewrites here share).
    "bitmapbuild": lambda a: (
        f"array_sort(array_distinct(transform({a[0]}, "
        f"__b -> CAST(__b AS BIGINT))))"),
    "bitmaptoarray": lambda a: a[0],
    "bitmapcardinality": lambda a: f"CAST(size({a[0]}) AS BIGINT)",
    "bitmapand": lambda a: (
        f"array_sort(array_intersect({a[0]}, {a[1]}))"),
    "bitmapor": lambda a: f"array_sort(array_union({a[0]}, {a[1]}))",
    "bitmapxor": lambda a: (
        f"array_sort(array_union(array_except({a[0]}, {a[1]}), "
        f"array_except({a[1]}, {a[0]})))"),
    "bitmapandnot": lambda a: (
        f"array_sort(array_except({a[0]}, {a[1]}))"),
    "bitmapcontains": lambda a: (
        f"array_contains({a[0]}, CAST({a[1]} AS BIGINT))"),
    "bitmaphasany": lambda a: f"arrays_overlap({a[0]}, {a[1]})",
    "bitmaphasall": lambda a: (
        f"(size(array_except({a[1]}, {a[0]})) = 0)"),
    "bitmapmin": lambda a: f"array_min({a[0]})",
    "bitmapmax": lambda a: f"array_max({a[0]})",
    "bitmapandcardinality": lambda a: (
        f"CAST(size(array_intersect({a[0]}, {a[1]})) AS BIGINT)"),
    "bitmaporcardinality": lambda a: (
        f"CAST(size(array_union({a[0]}, {a[1]})) AS BIGINT)"),
    "bitmapxorcardinality": lambda a: (
        f"CAST(size(array_union(array_except({a[0]}, {a[1]}), "
        f"array_except({a[1]}, {a[0]}))) AS BIGINT)"),
    "bitmapandnotcardinality": lambda a: (
        f"CAST(size(array_except({a[0]}, {a[1]})) AS BIGINT)"),
    # groupBitmap(x) is CH's bitmap-backed exact distinct count;
    # groupBitmapState's analog is the sorted distinct array itself
    # (mergeable: bitmapOr folds states, same as the rollup states).
    # SCALE CONTRACT (SCALING.md "per-group collect" rule): the state
    # is O(distinct-per-group) UNCOMPRESSED — one executor row holds
    # the whole group's member set (8 bytes/member vs CH's
    # roaring-compressed runs: 10^8 distinct members ≈ 800 MB raw
    # where CH holds ~MBs). Admissible only on keys that bound
    # per-group distinct cardinality by construction (per-user,
    # per-doc, bounded |users-per-type|); for cardinality-only
    # callers use groupBitmap -> count(DISTINCT) (shuffles, never
    # materializes the set in one row) or uniqTheta (bounded sketch).
    "groupbitmap": lambda a: f"count(DISTINCT {a[0]})",
    "groupbitmapstate": lambda a: (
        f"array_sort(collect_set(CAST({a[0]} AS BIGINT)))"),
    "arrayreduce": _array_reduce,
    # tryBase64Decode: CH returns '' on invalid input (not NULL)
    "trybase64decode": lambda a: (
        f"CASE WHEN ({a[0]}) IS NULL THEN CAST(NULL AS STRING) "
        f"ELSE coalesce(decode(try_to_binary({a[0]}, 'base64'), "
        f"'UTF-8'), '') END"),
    # javaHash: Java String.hashCode (h = h*31 + c over UTF-16
    # units, wrapping int32) — exact for BMP strings (ascii() yields
    # the code point = the UTF-16 unit below U+10000); supplementary
    # planes would need surrogate-pair splitting. O(len) per string:
    # split('') yields the characters once (the r11 substr(s, i, 1)
    # per index was O(len^2) — each substr re-walked the UTF-8
    # bytes, fine on `source`-length strings, a crawl on document
    # bodies). The filter drops split's trailing '' element.
    "javahash": lambda a: (
        f"aggregate(transform(filter(split({a[0]}, ''), "
        f"__c -> __c != ''), __c -> ascii(__c)), "
        f"CAST(0 AS BIGINT), "
        f"(__h, __c) -> pmod(__h * 31 + __c, 4294967296), "
        f"__h -> CAST(CASE WHEN __h >= 2147483648 "
        f"THEN __h - 4294967296 ELSE __h END AS INT))"),
    # ---- dialect wave 10 (r12) ------------------------------------
    # soundex: both engines implement the classic American Soundex
    # (first letter + 3 digits); Spark's builtin matches CH's
    "soundex": lambda a: f"soundex({a[0]})",
    # substringIndex: MySQL-compatible in both (CH 23.x added it)
    "substringindex": lambda a: (
        f"substring_index({a[0]}, {a[1]}, {a[2]})"),
    # regexpQuoteMeta: backslash-escape regex metacharacters (the CH
    # escape set: \0 | ( ) ^ $ . [ ] ? * + { : - and backslash).
    # $1 back-reference keeps the matched character; NUL handled by
    # the class too (Spark strings may carry it).
    "regexpquotemeta": lambda a: (
        "regexp_replace(" + a[0] +
        r", '([\\\\\\x00|()^$.\\[\\]?*+{:-])', '\\\\$1')"),
    # bitHammingDistance over integers: popcount of xor
    "bithammingdistance": lambda a: (
        f"CAST(bit_count(CAST({a[0]} AS BIGINT) ^ "
        f"CAST({a[1]} AS BIGINT)) AS INT)"),
    # snowflake ids: ms-timestamp in the top 41 bits above a 22-bit
    # machine/sequence field, anchored at the Twitter epoch. CH's
    # snowflakeToDateTime returns a second-precision DateTime (the
    # DateTime64(3) variant keeps the milliseconds).
    "snowflaketodatetime": lambda a: (
        f"timestamp_seconds((1288834974657 + "
        f"(CAST({a[0]} AS BIGINT) >> 22)) DIV 1000)"),
    "snowflaketodatetime64": lambda a: (
        f"timestamp_millis(1288834974657 + "
        f"(CAST({a[0]} AS BIGINT) >> 22))"),
    "datetimetosnowflake": lambda a: (
        f"shiftleft(unix_millis({a[0]}) - 1288834974657, 22)"),
    # ascii: code point of the first character (CH returns Int32)
    "ascii": lambda a: f"ascii({a[0]})",
    # char(n1, n2, ...): string from code points, one per argument
    "char": lambda a: (
        f"char({a[0]})" if len(a) == 1
        else "concat(" + ", ".join(f"char({x})" for x in a) + ")"),
    # UTF8 twins: Spark's string predicates are UTF-8 native
    "startswithutf8": lambda a: f"startswith({a[0]}, {a[1]})",
    "endswithutf8": lambda a: f"endswith({a[0]}, {a[1]})",
    "now64": lambda a: "current_timestamp()",
    "dayname": lambda a: f"date_format({a[0]}, 'EEEE')",
    "toyyyymmddhhmmss": lambda a: (
        f"CAST(date_format({a[0]}, 'yyyyMMddHHmmss') AS BIGINT)"),
    "domainwithoutwww": lambda a: (
        f"regexp_replace(parse_url({a[0]}, 'HOST'), '^www\\\\.', '')"),
    # great-circle CENTRAL ANGLE in degrees (geoDistance's haversine
    # without the radius multiply)
    "greatcircleangle": lambda a: (
        f"degrees(2 * asin(sqrt(power(sin(radians(({a[3]}) - "
        f"({a[1]})) / 2), 2) + cos(radians({a[1]})) * "
        f"cos(radians({a[3]})) * power(sin(radians(({a[2]}) - "
        f"({a[0]})) / 2), 2))))"),
    # UTF8-suffixed twins: Spark's string ops are UTF-8 native
    "reverseutf8": lambda a: f"reverse({a[0]})",
    "lowerutf8": lambda a: f"lower({a[0]})",
    "upperutf8": lambda a: f"upper({a[0]})",
    "format": _ch_format,
    "extractgroups": _extract_groups,
    "extractallgroups": _extract_all_groups,
    "extractallgroupsvertical": _extract_all_groups,
    "parsedatetime": _parse_datetime,
    # ---- r13 additions: the three names the r9 URL/IP wave missed.
    # port(url[, default]): from the authority's ':NNNN' suffix; CH
    # returns the default (0 without one) when no explicit port.
    # nullif: regexp_extract yields '' (not NULL) on no-match, which
    # ANSI-mode CAST refuses.
    "port": lambda a: (
        f"coalesce(CAST(nullif(regexp_extract(coalesce(parse_url("
        f"{a[0]}, 'AUTHORITY'), ''), ':([0-9]+)$', 1), '') AS INT), "
        + (f"CAST({a[1]} AS INT))" if len(a) > 1 else "0)")),
    # pad UTF8 twins: Spark's l/rpad are UTF-8 native already
    "leftpadutf8": lambda a: f"lpad({', '.join(a)})",
    "rightpadutf8": lambda a: f"rpad({', '.join(a)})",
    # URL parameter arrays: CH splits the query string on & AND ;
    "extracturlparameters": lambda a: (
        f"CASE WHEN parse_url({a[0]}, 'QUERY') IS NULL "
        f"THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split(parse_url({a[0]}, 'QUERY'), '[&;]') END"),
    "extracturlparameternames": lambda a: (
        f"CASE WHEN parse_url({a[0]}, 'QUERY') IS NULL "
        f"THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(split(parse_url({a[0]}, 'QUERY'), '[&;]'), "
        f"__p -> split(__p, '=')[0]) END"),
    # URL hierarchies (CH: the URL truncated after each / or ?
    # boundary of the path+query, separator included — docs
    # examples pinned in test_r13_url_hierarchy). The zero-width
    # lookahead split keeps each boundary as its segment's first
    # char, so element k = prefix of k segments + the NEXT
    # segment's leading separator.
    "urlpathhierarchy": _url_path_hierarchy,
    "urlhierarchy": _url_hierarchy,
    # UTF-8 validity: Spark STRING is validated at the ingest
    # boundary (invalid sequences were replaced with U+FFFD before
    # the value could exist in a column), so within this engine
    # every string IS valid UTF-8 and toValidUTF8's replacement
    # already happened — the honest lowerings are the constant and
    # the identity, not a refusal.
    "isvalidutf8": lambda a: f"CAST(({a[0]} IS NOT NULL) AS INT)",
    "tovalidutf8": lambda a: a[0],
}


def _uniq_combined_param(p, a):
    """uniqCombined[64](K)(x): K is the HLL register-count log2; the
    equivalent Spark knob is the relative standard deviation,
    rsd = 1.04 / sqrt(2^K) (the standard HLL error bound)."""
    try:
        k = int(p[0])
    except ValueError:
        raise ChDialectError(
            f"uniqCombined precision must be an integer, got {p[0]!r}")
    rsd = 1.04 / (2.0 ** k) ** 0.5
    return f"approx_count_distinct({a[0]}, {max(rsd, 0.0001):.6f})"


# name(params)(args) parameterized aggregates
_PARAM_FUNCS = {
    "uniqcombined": _uniq_combined_param,
    "uniqcombined64": _uniq_combined_param,
    # quantileDeterministic's determinism column is a sampling seed
    # for CH's reservoir; Spark's sketch is deterministic already —
    # the extra argument drops, the contract (approx quantile) holds
    "quantiledeterministic": lambda p, a:
        f"percentile_approx({a[0]}, {p[0]})",
    "histogram": lambda p, a: (_ for _ in ()).throw(ChDialectError(
        "histogram(bins)(x) returns (lo, hi, height) structs with "
        "adaptive bins; use operators.ch_functions.histogram_fixed "
        "(fixed-grid, exact) — the agg_ch_functions_panel shape")),
    "grouparraysorted": lambda p, a: (
        f"slice(array_sort(collect_list({a[0]})), 1, {p[0]})"),
    "quantile": lambda p, a: f"percentile_approx({a[0]}, {p[0]})",
    # CH's timing variant is an internal-representation optimization
    # over millisecond-scale values; the observable contract is an
    # approximate quantile — same mapping as quantile.
    "quantiletiming": lambda p, a: f"percentile_approx({a[0]}, {p[0]})",
    # ...as are the TDigest/BFloat16 representation variants: the
    # observable contract is an approximate quantile
    "quantiletdigest": lambda p, a: f"percentile_approx({a[0]}, {p[0]})",
    "quantilebfloat16": lambda p, a: f"percentile_approx({a[0]}, {p[0]})",
    "quantileexact": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "quantileexactweighted": lambda p, a: (_ for _ in ()).throw(
        ChDialectError(
            "quantileExactWeighted needs a cumulative-weight window "
            "— use operators.ch_functions.weighted_quantile (same "
            "lower-bound definition, integer-exact)")),
    "quantiles": lambda p, a:
        f"percentile_approx({a[0]}, array({', '.join(p)}))",
    "quantilesexact": lambda p, a:
        f"percentile({a[0]}, array({', '.join(p)}))",
    "quantilestiming": lambda p, a:
        f"percentile_approx({a[0]}, array({', '.join(p)}))",
    "quantilestdigest": lambda p, a:
        f"percentile_approx({a[0]}, array({', '.join(p)}))",
    # uniqUpTo(N)(x): exact distinct count saturating at N+1 (CH's
    # "more than N" sentinel); exact by contract, so count DISTINCT
    "uniqupto": lambda p, a:
        f"least(count(DISTINCT {', '.join(a)}), {p[0]} + 1)",
    # CH topK(k)(x) -> Spark's native approx_top_k (both are
    # frequent-items sketches); CH returns just the value array
    "topk": lambda p, a:
        f"transform(approx_top_k({a[0]}, {p[0]}), s -> s.item)",
    "topkweighted": lambda p, a: (_ for _ in ()).throw(ChDialectError(
        "topKWeighted has no Spark SQL aggregate; use "
        "operators.ch_functions.top_k_by_weight (exact grouped "
        "form: sum weights per value, rank, keep k)")),
    "sequencematch": lambda p, a: (_ for _ in ()).throw(ChDialectError(
        "sequenceMatch needs the stateful fold operator — use "
        "operators.behavioral.sequence_match (same pattern grammar)")),
    "sequencecount": lambda p, a: (_ for _ in ()).throw(ChDialectError(
        "sequenceCount needs the stateful fold operator — use "
        "operators.behavioral.sequence_count")),
    "windowfunnel": lambda p, a: (_ for _ in ()).throw(ChDialectError(
        "windowFunnel needs the stateful fold operator — use "
        "operators.behavioral.window_funnel (strict_order/"
        "strict_increase/strict_deduplication modes supported)")),
    "retention": lambda p, a: (_ for _ in ()).throw(ChDialectError(
        "retention needs the conditional-aggregate operator — use "
        "operators.behavioral.retention")),
    "sequencenextnode": lambda p, a: (_ for _ in ()).throw(ChDialectError(
        "sequenceNextNode needs the per-user timeline fold — use "
        "operators.behavioral.sequence_next_node (forward/backward x "
        "head/tail/first_match/last_match)")),
}


# ---------------------------------------------------------------------------
# Recursive rewriter over the token stream.
# ---------------------------------------------------------------------------

def _parse_args(tokens: list[str], i: int) -> tuple[list[list[str]], int]:
    """tokens[i] == '(' -> ([arg token lists], index past ')')."""
    assert tokens[i] == "("
    depth, i = 1, i + 1
    args: list[list[str]] = [[]]
    while i < len(tokens):
        t = tokens[i]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
            if depth == 0:
                i += 1
                break
        elif t == "," and depth == 1:
            args.append([])
            i += 1
            continue
        args[-1].append(t)
        i += 1
    else:
        raise ChDialectError("unbalanced parentheses")
    if args == [[]]:
        args = []
    return args, i


_SUBSCRIPT_BLOCKERS = {
    # keywords that can directly precede an array LITERAL — an ident
    # in this set before '[' means "[...]" is a fresh expression, not
    # a subscript of that ident
    "select", "where", "and", "or", "not", "in", "when", "then",
    "else", "values", "having", "on", "limit", "by", "union", "all",
    "distinct", "case", "as", "from", "return",
    # `ARRAY JOIN [1, 2, 3] AS x`: the '[' after JOIN opens a literal
    "join",
}


def _subscript_primary_start(out: list[str]) -> int:
    """Index in `out` where the primary expression being subscripted
    begins: a balanced (...) / call / qualified identifier / string
    walking left from the tail."""
    i = len(out) - 1
    if out[i] == ")":
        depth = 0
        while i >= 0:
            if out[i] == ")":
                depth += 1
            elif out[i] == "(":
                depth -= 1
                if depth == 0:
                    break
            i -= 1
        # include the call name: `f(x)[1]` subscripts the call result
        # — but a KEYWORD before '(' means the paren opened a plain
        # grouped expression (`WHERE (arr)[1]`), not a call (review
        # r6: absorbing WHERE corrupted the statement)
        prev = out[i - 1] if i > 0 else None
        if (prev is not None and (prev[0].isalpha() or prev[0] == "_")
                and prev.lower() not in _SUBSCRIPT_BLOCKERS):
            i -= 1
    # extend over qualification dots: `t.arr[1]`, `db.t.arr[1]`
    while i >= 2 and out[i - 1] == "." and (
        out[i - 2][0].isalpha() or out[i - 2][0] == "_"
    ):
        i -= 2
    return i


def _rewrite_array_literals(tokens: list[str]) -> list[str]:
    """CH array literals `[a, b, c]` -> Spark `array(a, b, c)`, and
    CH subscripts `expr[i]` -> Spark `element_at(expr, i)`.

    Disambiguation (same rule CH's own lexer uses): a '[' directly
    after an identifier, ')', ']' or a string is a SUBSCRIPT;
    anywhere else it opens a literal. Subscripts must NOT pass
    through as Spark bracket indexing: CH subscripts are 1-based
    (negative = from the end), Spark brackets are 0-based — a silent
    off-by-one. Spark's `try_element_at` is 1-based with
    negative-from-end, matching CH exactly, and also covers map
    subscripts (`m['k']`). `try_` because Spark 4 runs ANSI mode by
    default and plain element_at THROWS on an out-of-range index,
    where CH returns the type default — e.g. splitByChar('/',p)[3]
    on a short path must not crash a query. try_element_at yields
    NULL on miss (the repo's documented NULL-for-no-data convention;
    divergence from CH's '' / 0 default is documented, not silent).
    Nesting tracked with a stack so `[[1,2],[3]]` becomes
    array(array(1,2), array(3)) and `[10,20,30][1]` becomes
    try_element_at(array(10,20,30), 1) = 10 as CH returns."""
    out: list[str] = []
    # ("lit", None) = array literal we opened;
    # ("sub", mark) = subscript, index tokens start at out[mark]
    stack: list[tuple[str, int | None]] = []
    for t in tokens:
        if t == "[":
            prev = out[-1] if out else None
            subscript = prev is not None and (
                prev in (")", "]")
                or _is_string(prev)
                or (
                    (prev[0].isalpha() or prev[0] == "_")
                    and prev.lower() not in _SUBSCRIPT_BLOCKERS
                )
            )
            if subscript:
                start = _subscript_primary_start(out)
                out[start:] = ["try_element_at", "("] + out[start:] + [","]
                stack.append(("sub", len(out)))
            else:
                # two tokens so downstream paren-depth tracking
                # (_parse_args / clause scanners) stays correct
                out.extend(("array", "("))
                stack.append(("lit", None))
        elif t == "]" and stack:
            kind, mark = stack.pop()
            if kind == "sub":
                # index-ZERO guard (r7 review, finished r8):
                # try_element_at still THROWS [INVALID_INDEX_OF_ZERO]
                # on arrays — CH returns the default for [0] like any
                # other miss. Three index shapes:
                # 1. numeric-literal arithmetic: constant-folded here;
                #    only an index that IS 0 needs the nullif wrap
                #    (other constants cannot trip the zero throw, and
                #    leaving them bare keeps integer MAP keys exact —
                #    m[5] stays try_element_at(m, 5)).
                # 2. string-literal-bearing: a map key; never guarded.
                # 3. identifier-bearing (arr[i], arr[i-1]): wrapped in
                #    CASE WHEN cast(i AS string) = '0' THEN NULL ELSE
                #    i END — type-safe under ANSI for BOTH numeric
                #    indexes and string map keys (nullif(<string>, 0)
                #    would raise CAST_INVALID_INPUT; measured).
                # Documented divergences (narrow, CH returns a value):
                # the literal-0 integer-MAP-key m[0] and a computed
                # STRING map key whose runtime value is exactly '0'
                # both yield NULL instead of the stored value.
                idx = out[mark:]
                numeric = all(
                    re.fullmatch(r"\d+(?:\.\d+)?", t)
                    or t in ("+", "-", "*", "/", "%", "(", ")")
                    for t in idx
                )
                if numeric:
                    try:
                        const = eval(  # noqa: S307 — digits/ops only
                            "".join(idx), {"__builtins__": {}}, {})
                    except Exception:
                        const = None
                    if const == 0 or const is None:
                        out[mark:] = (["nullif", "("] + idx
                                      + [",", "0", ")"])
                elif not any(_is_string(t) for t in idx):
                    out[mark:] = (
                        ["case", "when", "cast", "("] + idx
                        + ["as", "string", ")", "=", "'0'",
                           "then", "null", "else"] + idx + ["end"])
            out.append(")")
        else:
            out.append(t)
    return out


def _rewrite_array_join_clause(tokens: list[str]) -> list[str]:
    """CH `FROM t [LEFT] ARRAY JOIN expr [AS x]` -> Spark
    `FROM t LATERAL VIEW [OUTER] explode(expr) _aj AS x`.

    The row-multiplying clause form every CH observability query uses
    (`ARRAY JOIN attrs.keys AS k`). LEFT ARRAY JOIN (keep rows with
    empty arrays, NULL-filled) maps to LATERAL VIEW OUTER. CH's
    multi-array form (`ARRAY JOIN a AS x, b AS y` — ZIPPED, not
    cartesian) has no direct Spark clause; it raises rather than
    silently producing the cartesian LATERAL VIEW chain."""
    lows = [t.lower() for t in tokens]
    for i in range(len(tokens) - 1):
        if lows[i] != "array" or lows[i + 1] != "join":
            continue
        left = i > 0 and lows[i - 1] == "left"
        start = i - 1 if left else i
        # expression runs until AS/alias/clause end at paren depth 0
        j = i + 2
        depth = 0
        enders = {"where", "group", "order", "limit", "having",
                  "union", "settings", "format", "inner", "left",
                  "right", "full", "cross", "join", "prewhere"}
        expr: list[str] = []
        alias = None
        while j < len(tokens):
            t = tokens[j]
            tl = t.lower()
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            if depth == 0 and tl == "as":
                alias = tokens[j + 1] if j + 1 < len(tokens) else None
                j += 2
                if j < len(tokens) and tokens[j] == ",":
                    raise ChDialectError(
                        "multi-array ARRAY JOIN is ZIPPED in "
                        "ClickHouse and has no Spark clause "
                        "translation; use arrayZip + a single ARRAY "
                        "JOIN, or the DataFrame API"
                    )
                break
            if depth == 0 and tl in enders:
                break
            if depth == 0 and t == ",":
                raise ChDialectError(
                    "multi-array ARRAY JOIN is ZIPPED in ClickHouse "
                    "and has no Spark clause translation; use "
                    "arrayZip + a single ARRAY JOIN, or the "
                    "DataFrame API"
                )
            expr.append(t)
            j += 1
        if not expr:
            raise ChDialectError("ARRAY JOIN requires an array expression")
        if alias is None:
            # CH allows `ARRAY JOIN arr` (the column keeps its name);
            # that only works for a bare identifier
            if len(expr) == 1 and _IDENT_RE.fullmatch(expr[0]):
                alias = expr[0]
            else:
                raise ChDialectError(
                    "ARRAY JOIN over an expression needs an AS alias"
                )
        if len(expr) == 1 and expr[0] == alias:
            # CH SHADOWS the source column with its element; Spark's
            # LATERAL VIEW would leave both visible and every later
            # reference ambiguous. Reproduce the shadowing by hiding
            # the array column at the source:
            #   FROM (SELECT * EXCEPT (c), c AS _aj_src FROM <src>)
            #   LATERAL VIEW explode(_aj_src) _aj AS c
            col = alias
            k = start - 1
            depth = 0
            from_idx = None
            while k >= 0:
                if tokens[k] == ")":
                    depth += 1
                elif tokens[k] == "(":
                    depth -= 1
                elif depth == 0 and lows[k] == "from":
                    from_idx = k
                    break
                k -= 1
            if from_idx is None:
                raise ChDialectError("ARRAY JOIN requires a FROM clause")
            src = tokens[from_idx + 1:start]
            repl = (
                ["(", "SELECT", "*", "EXCEPT", "(", col, ")", ",",
                 col, "AS", "_aj_src", "FROM"] + src + [")", "_ajs",
                 "LATERAL", "VIEW"]
                + (["OUTER"] if left else [])
                + ["explode", "(", "_aj_src", ")", "_aj", "AS", col]
            )
            out = tokens[:from_idx + 1] + repl + tokens[j:]
            return _rewrite_array_join_clause(out)
        repl = ["LATERAL", "VIEW"]
        if left:
            repl.append("OUTER")
        repl += ["explode", "("] + expr + [")", "_aj", "AS", alias]
        out = tokens[:start] + repl + tokens[j:]
        return _rewrite_array_join_clause(out)
    return tokens


_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


_JOIN_DIRS = ("inner", "left", "right", "full", "join", "cross")


def _strip_table_modifiers(tokens: list[str]) -> list[str]:
    """Drop CH table-read modifiers with no Spark counterpart and no
    semantic effect here: `FINAL` (this engine's tables are already
    merge-complete at rest) directly after a FROM/JOIN table
    reference, `GLOBAL` before JOIN/IN (a ClickHouse distributed-
    execution hint; Spark's optimizer owns that decision), and the
    `ALL` join strictness (CH's DEFAULT — `ALL LEFT JOIN` ==
    `LEFT JOIN`; the anchor to a following/preceding join keyword
    keeps UNION ALL and `> ALL (subquery)` untouched). The `ANY`
    strictness (keep ONE arbitrary match per left row) is refused
    honestly: Spark has no counterpart and CH's pick is
    nondeterministic — deterministic rewrites exist (LIMIT 1 BY on
    the right side, or a row_number()=1 derived table). All anchored
    so columns named final/global/all survive."""
    out: list[str] = []
    lows = [t.lower() for t in tokens]
    i = 0
    while i < len(tokens):
        t, tl = tokens[i], lows[i]
        if tl == "global" and i + 1 < len(tokens) and lows[i + 1] in (
            "join", "in", "any", "all", "left", "right", "inner",
            "full", "semi", "anti", "not",
        ):
            i += 1
            continue
        nxt = lows[i + 1] if i + 1 < len(tokens) else ""
        prev = out[-1].lower() if out else ""
        if tl == "all" and (
            nxt in _JOIN_DIRS
            or (prev in _JOIN_DIRS[:4] and nxt == "join")
        ):
            i += 1  # CH default strictness — a no-op spelling
            continue
        if tl == "any" and not _is_string(t) and (
            nxt in _JOIN_DIRS
            or (prev in _JOIN_DIRS[:4] and nxt == "join")
        ):
            raise ChDialectError(
                "ANY join strictness (one arbitrary match per left "
                "row) has no Spark equivalent and is nondeterministic "
                "in ClickHouse itself; deduplicate the right side "
                "deterministically instead — LIMIT 1 BY <key> on a "
                "subquery, or row_number() OVER (PARTITION BY <key> "
                "ORDER BY <tiebreak>) = 1")
        if tl == "final" and out:
            prev = out[-1].lower()
            # anchored: ident directly after FROM/JOIN, then FINAL
            if _IDENT_RE.fullmatch(out[-1]) and len(out) >= 2 and \
                    out[-2].lower() in ("from", "join"):
                i += 1
                continue
            if prev in ("from", "join"):  # pathological; leave it
                pass
        out.append(t)
        i += 1
    return out


def _emit(tokens: list[str]) -> str:
    out: list[str] = []
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        low = t.lower()
        nxt = tokens[i + 1] if i + 1 < n else None
        if (low in ("any", "all") and i > 0
                and tokens[i - 1] in ("=", ">", "<", ">=", "<=",
                                      "!=", "<>")):
            # SQL quantifier (`x > ANY (subquery)`), not the CH
            # `any()` aggregate. Spark has no quantified comparison
            # subqueries — raise with the rewrite instead of either
            # corrupting it into any_value() or leaking a parse error
            raise ChDialectError(
                f"quantified `{tokens[i - 1]} {t} (subquery)` is not "
                f"supported by Spark; compare against a scalar "
                f"min()/max() subquery instead")
        if not _is_string(t) and nxt == "(" and (
                low in _FUNCS or low in _PARAM_FUNCS):
            args, j = _parse_args(tokens, i + 1)
            arg_strs = [_emit(a) for a in args]
            if low in _PARAM_FUNCS and not (
                    low in _FUNCS and not (j < n and tokens[j] == "(")):
                if j < n and tokens[j] == "(":
                    args2, j = _parse_args(tokens, j)
                    out.append(_PARAM_FUNCS[low](
                        arg_strs, [_emit(a) for a in args2]))
                else:
                    # CH also allows quantile(x) == quantile(0.5)(x)
                    out.append(_PARAM_FUNCS[low](["0.5"], arg_strs))
            else:
                if j < n and tokens[j] == "(":
                    # CH parameterized-call syntax f(params)(args) on
                    # a function with no parameterized mapping: emit
                    # an honest error, not `fn(params) (args)` garbage
                    # (SQL never juxtaposes a call with a paren group,
                    # so this token shape is unambiguous)
                    raise ChDialectError(
                        f"{t} does not take CH parameters here "
                        f"(`{t}(...)(...)`); only the quantile*/topK/"
                        "uniqCombined/uniqUpTo/sequence*/windowFunnel "
                        "families are parameterized")
                out.append(_FUNCS[low](arg_strs))
            i = j
            continue
        out.append(t)
        i += 1
    # re-join: tight around '(' ',' and unary-ish punctuation is not
    # needed for Spark's parser; single spaces are always valid except
    # BETWEEN function name and '(' which Spark accepts too.
    return " ".join(out)


def split_format_clause(sql: str) -> tuple[str, str | None]:
    """Strip a trailing CH `FORMAT <name>` clause (the client-side
    output format — transport concern, not query semantics). Returns
    (sql_without_clause, format_name_or_None)."""
    m = re.search(r"\bFORMAT\s+([A-Za-z][A-Za-z0-9]*)\s*;?\s*$", sql,
                  re.IGNORECASE)
    if not m:
        return sql, None
    return sql[: m.start()].rstrip(), m.group(1)


def _rewrite_prewhere(tokens: list[str]) -> list[str]:
    """CH PREWHERE is an execution hint (filter before reading the
    remaining columns) — semantically a plain WHERE conjunct, and
    Spark's pushdown already does the optimization. PREWHERE alone
    becomes WHERE; PREWHERE + WHERE merge into one conjunction (CH
    applies both)."""
    lows = [t.lower() for t in tokens]
    if "prewhere" not in lows:
        return tokens
    pi = lows.index("prewhere")
    # find a top-level WHERE after it (same subquery depth)
    depth = 0
    wi = None
    for i in range(pi + 1, len(tokens)):
        if tokens[i] == "(":
            depth += 1
        elif tokens[i] == ")":
            depth -= 1
        elif depth == 0 and lows[i] == "where":
            wi = i
            break
    if wi is None:
        out = tokens[:pi] + ["WHERE"] + tokens[pi + 1:]
    else:
        pre = tokens[pi + 1:wi]
        rest = tokens[wi + 1:]
        # WHERE ends at the next top-level clause keyword
        enders = {"group", "order", "limit", "having", "window",
                  "union", "qualify"}
        depth = 0
        end = len(rest)
        for i, t in enumerate(rest):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and t.lower() in enders:
                end = i
                break
        out = (tokens[:pi] + ["WHERE", "("] + pre + [")", "AND", "("]
               + rest[:end] + [")"] + rest[end:])
    return _rewrite_prewhere(out)  # handle any further PREWHEREs


def _is_number(tok: str) -> bool:
    try:
        float(tok)
        return True
    except ValueError:
        return False


def _rewrite_with_totals(tokens: list[str]) -> list[str]:
    """`GROUP BY e1, e2 WITH TOTALS` -> `GROUP BY GROUPING SETS
    ((e1, e2), ())` — the exact row set ClickHouse produces (each
    group plus ONE overall-aggregate row; ROLLUP would add
    intermediate subtotals for multi-expr keys, so it is NOT used).
    Divergence, documented: CH carries the totals row out-of-band
    with default-valued keys; the grouping-sets row has NULL keys,
    the Spark-idiomatic in-band representation."""
    lows = [t.lower() for t in tokens]
    depth = 0
    for i, t in enumerate(tokens):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif (lows[i] == "with" and i + 1 < len(tokens)
              and lows[i + 1] == "totals" and not _is_string(t)):
            # walk back to the GROUP BY that owns this modifier
            # (same paren depth, scanning backwards)
            d2, g = 0, None
            for j in range(i - 1, 0, -1):
                tj = tokens[j]
                if tj == ")":
                    d2 += 1
                elif tj == "(":
                    d2 -= 1
                elif d2 == 0 and lows[j] == "by" and lows[j - 1] == "group":
                    g = j
                    break
            if g is None:
                raise ChDialectError("WITH TOTALS without a GROUP BY")
            exprs = tokens[g + 1:i]
            new = (tokens[:g + 1]
                   + _tokenize("GROUPING SETS ( (")
                   + exprs
                   + _tokenize(") , ( ) )")
                   + tokens[i + 2:])
            return _rewrite_with_totals(new)
    return tokens


def _split_order_items(
    exprs: list[str],
) -> list[tuple[list[str], list[str]]]:
    """Split an ORDER BY / BY token list at top-level commas into
    (expression, direction-modifier) pairs, where the modifier is the
    trailing `ASC|DESC [NULLS FIRST|LAST]` run (empty if absent)."""
    out = []
    for it in _split_top_commas(exprs):
        low = [x.lower() for x in it]
        dirs: list[str] = []
        if len(it) >= 2 and low[-2] == "nulls" and low[-1] in ("first", "last"):
            dirs = it[-2:]
            it, low = it[:-2], low[:-2]
        if it and low[-1] in ("asc", "desc"):
            dirs = [it[-1]] + dirs
            it = it[:-1]
        out.append((it, dirs))
    return out


def _join_items(items: list[tuple[list[str], list[str]]]) -> list[str]:
    """Re-join (expr, dirs) pairs into a comma-separated token list."""
    out: list[str] = []
    for expr, dirs in items:
        if out:
            out.append(",")
        out += expr + dirs
    return out


def _inject_passthrough(head, order_items, by_exprs):
    """For a plain (no top-level GROUP BY / DISTINCT / set-op / HAVING)
    statement, append the ORDER BY and BY expressions to the SELECT
    list as hidden `__ch_obK` / `__ch_byK` passthrough columns so the
    LIMIT BY wrapper can window and sort by un-projected source
    columns, ClickHouse-style. Returns
    (new_head, window_order, part_by, outer_order_exprs, hidden) or
    None when injection is unsafe (the caller falls back to the
    projected-columns-only wrapping)."""
    lows = [t.lower() for t in head]
    d = 0
    sel = frm = None
    for i, t in enumerate(head):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and not _is_string(t):
            low = lows[i]
            if low == "select" and sel is None:
                sel = i
            elif sel is not None and low in (
                "group", "having", "union", "intersect", "except",
            ):
                return None
            elif low == "distinct" and sel is not None and i == sel + 1:
                return None
            elif low == "from" and sel is not None and frm is None:
                frm = i
    if sel is None or frm is None:
        return None
    # bare-ordinal order items (ORDER BY 2) reference the projection
    # positionally; injection would turn them into literals
    for expr, _dirs in order_items:
        if not expr or (len(expr) == 1 and _is_number(expr[0])):
            return None
    by_items = _split_order_items(by_exprs)
    if any(not e for e, _ in by_items):
        return None
    inj: list[str] = []
    hidden: list[str] = []
    window_order: list[str] = []
    outer_order_exprs: list[str] = []
    for k, (expr, dirs) in enumerate(order_items):
        name = f"__ch_ob{k}"
        hidden.append(name)
        inj += [","] + list(expr) + ["AS", name]
        if window_order:
            window_order.append(",")
            outer_order_exprs.append(",")
        window_order += [name] + dirs
        outer_order_exprs += [name] + dirs
    part_by: list[str] = []
    for k, (expr, _dirs) in enumerate(by_items):
        name = f"__ch_by{k}"
        hidden.append(name)
        inj += [","] + list(expr) + ["AS", name]
        if part_by:
            part_by.append(",")
        part_by.append(name)
    new_head = head[:frm] + inj + head[frm:]
    return new_head, window_order, part_by, outer_order_exprs, hidden


def _rewrite_limit_by(tokens: list[str]) -> list[str]:
    """`[ORDER BY o] LIMIT n BY e1, e2 [LIMIT m]` -> a row_number
    window over the wrapped statement: ClickHouse's first-n-rows-per-
    group operator, translated to the PARTITION BY ... rn <= n idiom
    (Catalyst plans one shuffle on the BY keys; with a following
    global LIMIT it stays a TakeOrderedAndProject tail).

    The ORDER BY (if present) governs both the window order and the
    final order, matching CH's ordered-stream semantics. Without one,
    the window orders by the BY expressions — CH's pick is
    unspecified there; this pins a deterministic one.

    Un-projected source columns in ORDER BY / BY (ClickHouse allows
    them) are carried through the wrapper as injected hidden
    passthrough columns (`expr AS __ch_obK` / `__ch_byK`, projected
    away by the outer EXCEPT) — possible only when the statement has
    no top-level GROUP BY / DISTINCT / set operator. For those
    shapes the wrapper references the statement's own projection, so
    the ORDER BY / BY expressions must be projected columns or
    aliases (documented divergence; surfaces as UNRESOLVED_COLUMN —
    add the column to the SELECT list)."""
    lows = [t.lower() for t in tokens]
    depth, hit = 0, None
    for i, t in enumerate(tokens):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif lows[i] == "limit" and i + 2 < len(tokens):
            if (_is_number(tokens[i + 1]) and tokens[i + 2] == ","
                    and i + 4 < len(tokens) and _is_number(tokens[i + 3])
                    and lows[i + 4] == "by"):
                raise ChDialectError(
                    "LIMIT offset, n BY is not supported; use LIMIT n BY "
                    "or the DataFrame-level top_n_per_type operator")
            if _is_number(tokens[i + 1]) and lows[i + 2] == "by":
                if depth > 0:
                    raise ChDialectError(
                        "LIMIT BY inside a subquery is not supported; "
                        "apply it at the statement's top level")
                hit = i
                break
    if hit is None:
        return tokens
    i = hit
    n_rows = tokens[i + 1]
    # the BY expression list runs to a top-level LIMIT or statement end
    j, d2 = i + 3, 0
    while j < len(tokens):
        t = tokens[j]
        if t == "(":
            d2 += 1
        elif t == ")":
            d2 -= 1
        elif d2 == 0 and lows[j] == "limit":
            break
        j += 1
    by_exprs = tokens[i + 3:j]
    tail = tokens[j:]  # the optional global LIMIT, preserved verbatim
    if not by_exprs:
        raise ChDialectError("LIMIT n BY needs at least one expression")
    # the ORDER BY immediately governing this LIMIT (same depth)
    d3, o = 0, None
    for p in range(i - 1, 0, -1):
        t = tokens[p]
        if t == ")":
            d3 += 1
        elif t == "(":
            d3 -= 1
        elif d3 == 0 and lows[p] == "by" and lows[p - 1] == "order":
            o = p - 1
            break
    if o is not None:
        head = tokens[:o]
        order_items = _split_order_items(tokens[o + 2:i])
        has_outer_order = True
    else:
        head = tokens[:i]
        order_items = _split_order_items(by_exprs)
        has_outer_order = False

    injected = _inject_passthrough(head, order_items, by_exprs)
    if injected is not None:
        head, window_order, part_by, outer_order_exprs, hidden = injected
    else:
        # grouped / DISTINCT / set-op statement: reference the
        # statement's own projection (documented restriction)
        window_order = _join_items(order_items)
        part_by = list(by_exprs)
        outer_order_exprs = _join_items(order_items)
        hidden = []
    outer_order = (
        _tokenize("ORDER BY") + outer_order_exprs if has_outer_order else []
    )
    except_cols = ["__ch_rn"]
    for h in hidden:
        except_cols += [",", h]
    return (
        _tokenize("SELECT * EXCEPT (")
        + except_cols
        + _tokenize(") FROM ( SELECT * , "
                    "row_number ( ) OVER ( PARTITION BY")
        + part_by
        + _tokenize("ORDER BY")
        + window_order
        + _tokenize(") AS __ch_rn FROM (")
        + list(head)
        + _tokenize(") AS __ch_lb ) AS __ch_lbf WHERE __ch_rn <=")
        + [n_rows]
        + outer_order
        + tail
    )


def _reject_with_fill(tokens: list[str]) -> None:
    """ORDER BY ... WITH FILL is gap-filling that SQL-text translation
    cannot carry (the filled rows' schema isn't knowable from tokens)
    — `ch_sql()` executes it via the gap_fill operator; a bare
    `translate()` caller gets a pointer there instead of leaked CH
    syntax. (`WITH fill AS (...)` — a CTE that happens to be named
    fill — is not rejected.)"""
    lows = [t.lower() for t in tokens]
    for i in range(len(tokens) - 1):
        if (lows[i] == "with" and lows[i + 1] == "fill"
                and not _is_string(tokens[i])
                and (i + 2 >= len(tokens) or lows[i + 2] != "as")):
            raise ChDialectError(
                "ORDER BY ... WITH FILL cannot be expressed as SQL "
                "text; execute the statement through ch_sql() (routes "
                "to operators.gapfill.gap_fill) instead of translate()")


_FILL_KWS = {"from", "to", "step", "interpolate", "limit"}


def _parse_interpolate_entry(a: list[str]):
    """One INTERPOLATE list entry -> (column, spec).

    `col` -> carry the previous value (spec None). `col AS expr` —
    CH evaluates expr ITERATIVELY (fill row i sees fill row i-1's
    values), so only expressions with a closed form under iteration
    are accepted and mapped to that closed form:

      col            carry (explicit)          spec None
      <literal>      constant                  ("const", sql)
      col ± k        arithmetic progression    ("add", ±k)
      col * k        geometric progression     ("mul", k)

    Expressions referencing other columns or non-linear in `col`
    have no distributed closed form; they raise rather than
    silently diverging from CH's row-serial semantics."""
    lows = [t.lower() for t in a]
    name_toks, expr = a, None
    if "as" in lows:
        k = lows.index("as")
        name_toks, expr = a[:k], a[k + 1:]
    if len(name_toks) != 1 or not re.fullmatch(r"[A-Za-z_]\w*",
                                               name_toks[0]):
        raise ChDialectError(
            "INTERPOLATE entries must be projected column names")
    name = name_toks[0]
    if expr is None or expr == [name]:
        return (name, None)

    def signed_num(i: int):
        """(value, token width) for a possibly-negated numeric
        literal at expr[i], else None."""
        if i < len(expr) and _is_number(expr[i]):
            v = float(expr[i])
            return (int(v) if v == int(v) else v), 1
        if (i + 1 < len(expr) and expr[i] == "-"
                and _is_number(expr[i + 1])):
            v = -float(expr[i + 1])
            return (int(v) if v == int(v) else v), 2
        return None

    if len(expr) == 1 and _is_string(expr[0]):
        return (name, ("const", expr[0]))
    v = signed_num(0)
    if v is not None and v[1] == len(expr):
        return (name, ("const", str(v[0])))
    if len(expr) >= 3 and expr[0] == name and expr[1] in ("+", "-", "*"):
        v = signed_num(2)
        if v is not None and 2 + v[1] == len(expr):
            if expr[1] == "+":
                return (name, ("add", v[0]))
            if expr[1] == "-":
                return (name, ("add", -v[0]))
            return (name, ("mul", v[0]))
    if len(expr) >= 3 and expr[-1] == name and expr[-2] in ("+", "*"):
        v = signed_num(0)
        if v is not None and v[1] + 2 == len(expr):
            return (name, ("add" if expr[-2] == "+" else "mul", v[0]))
    raise ChDialectError(
        "INTERPOLATE (col AS expr): CH applies expr iteratively per "
        "fill row, so only closed-form shapes are supported — col, a "
        "literal, col ± k, col * k; got " + " ".join(expr))


def _extract_with_fill(sql: str):
    """Parse a top-level `ORDER BY ... WITH FILL` tail off a SELECT.

    Returns None when the statement has no WITH FILL; else a spec:
      inner        — SQL text with the ORDER BY tail + LIMIT removed
      keys         — preceding ORDER BY columns (independent fill
                     groups; each restarts its own fill sequence)
      axis         — the fill column (must be a projected column or
                     alias — CH allows arbitrary exprs; alias them)
      descending   — axis direction
      from_sql/to_sql — bound expressions as Spark SQL text (or None)
      step         — positive number; axis-units for numeric axes,
                     MICROSECONDS when step_is_interval
      step_is_interval — STEP was an INTERVAL literal
      interpolate  — tuple of column names, or "*" for the bare
                     INTERPOLATE form (carry every non-key column)
      limit        — trailing LIMIT n (applies AFTER filling), or None
    """
    tokens = _tokenize(sql)
    lows = [t.lower() for t in tokens]
    depth, hit = 0, None
    for i, t in enumerate(tokens):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif (lows[i] == "with" and i + 1 < len(tokens)
                and lows[i + 1] == "fill" and not _is_string(t)
                and (i + 2 >= len(tokens) or lows[i + 2] != "as")):
            if depth > 0:
                raise ChDialectError(
                    "WITH FILL inside a subquery is not supported; "
                    "fill at the statement's top level (or call "
                    "operators.gapfill.gap_fill on the inner frame)")
            if hit is not None:
                raise ChDialectError(
                    "only one ORDER BY column may carry WITH FILL")
            hit = i
    if hit is None:
        return None
    i = hit
    # the governing top-level ORDER BY
    d, o = 0, None
    for p in range(i - 1, 0, -1):
        t = tokens[p]
        if t == ")":
            d += 1
        elif t == "(":
            d -= 1
        elif d == 0 and lows[p] == "by" and lows[p - 1] == "order":
            o = p - 1
            break
    if o is None:
        raise ChDialectError("WITH FILL without a governing ORDER BY")
    items = _split_order_items(tokens[o + 2:i])
    if not items or any(not e for e, _ in items):
        raise ChDialectError("empty ORDER BY expression before WITH FILL")
    keys = []
    for expr, dirs in items[:-1]:
        if len(expr) != 1 or not re.fullmatch(r"[A-Za-z_]\w*", expr[0]):
            raise ChDialectError(
                "ORDER BY keys before a WITH FILL column must be "
                "projected column names (alias the expression in the "
                "SELECT list)")
        if dirs:
            raise ChDialectError(
                "ASC/DESC on the grouping keys before WITH FILL is "
                "not supported; the fill groups are unordered sets")
        keys.append(expr[0])
    axis_expr, axis_dirs = items[-1]
    if len(axis_expr) != 1 or not re.fullmatch(r"[A-Za-z_]\w*",
                                               axis_expr[0]):
        raise ChDialectError(
            "the WITH FILL column must be a projected column name "
            "(alias the expression in the SELECT list)")
    if any(x.lower() in ("nulls", "first", "last") for x in axis_dirs):
        raise ChDialectError("NULLS FIRST/LAST with WITH FILL is not "
                             "supported")
    descending = bool(axis_dirs) and axis_dirs[0].lower() == "desc"

    # modifiers after FILL
    spec = {"from": None, "to": None, "step": None}
    interpolate = ()
    limit = None
    j = i + 2
    n = len(tokens)
    while j < n:
        kw = lows[j]
        if kw in ("from", "to", "step"):
            if spec[kw] is not None:
                raise ChDialectError(f"duplicate WITH FILL {kw.upper()}")
            k, d2 = j + 1, 0
            while k < n:
                tk = tokens[k]
                if tk == "(":
                    d2 += 1
                elif tk == ")":
                    d2 -= 1
                elif d2 == 0 and lows[k] in _FILL_KWS:
                    break
                k += 1
            expr = tokens[j + 1:k]
            if not expr:
                raise ChDialectError(f"WITH FILL {kw.upper()} needs an "
                                     f"expression")
            spec[kw] = expr
            j = k
        elif kw == "interpolate":
            if j + 1 < n and tokens[j + 1] == "(":
                args, j = _parse_args(tokens, j + 1)
                cols = []
                for a in args:
                    cols.append(_parse_interpolate_entry(a))
                interpolate = tuple(cols)
            else:
                interpolate = "*"
                j += 1
        elif kw == "limit":
            if (j + 1 < n and _is_number(tokens[j + 1])
                    and j + 2 == n):
                limit = int(tokens[j + 1])
                j = n
            else:
                raise ChDialectError(
                    "only a trailing LIMIT n combines with WITH FILL "
                    "(LIMIT BY / offset forms do not)")
        else:
            raise ChDialectError(
                f"unexpected token {tokens[j]!r} after WITH FILL")
    # step: a numeric literal or INTERVAL n unit
    step, step_is_interval = None, False
    st = spec["step"]
    if st is not None:
        neg = False
        if st and st[0] == "-":
            neg, st = True, st[1:]
        if len(st) == 3 and st[0].lower() == "interval" and _is_number(st[1]):
            from clickhouse_observability_spark.operators.gapfill import (
                interval_to_micros,
            )
            try:
                step = interval_to_micros(float(st[1]), st[2])
            except ValueError as e:
                raise ChDialectError(str(e)) from None
            step_is_interval = True
        elif len(st) == 1 and _is_number(st[0]):
            step = float(st[0])
            step = int(step) if step == int(step) else step
        else:
            raise ChDialectError(
                "WITH FILL STEP must be a numeric literal or "
                "INTERVAL n unit")
        if neg and not descending:
            raise ChDialectError(
                "negative STEP requires ORDER BY ... DESC")
        # DESC accepts either sign (CH writes STEP -1; the magnitude
        # is what anchors the grid — direction comes from DESC)

    def _expr_sql(toks):
        if toks is None:
            return None
        return _emit(_rewrite_array_literals(list(toks)))

    return {
        "inner": " ".join(tokens[:o]),
        "keys": keys,
        "axis": axis_expr[0],
        "descending": descending,
        "from_sql": _expr_sql(spec["from"]),
        "to_sql": _expr_sql(spec["to"]),
        "step": step,
        "step_is_interval": step_is_interval,
        "interpolate": interpolate,
        "limit": limit,
    }


def _rewrite_sample(tokens: list[str]) -> list[str]:
    """CH `FROM t SAMPLE k [OFFSET m]` (fractional form): rows whose
    sampling-key hash falls in the [m, m+k) window of the hash space.
    The logs table declares no SAMPLE BY key, so the key here is the
    whole row — `xxhash64(to_json(struct(*)))` — which keeps CH's two
    load-bearing properties: deterministic (the same statement reads
    the same subset forever) and NESTED (SAMPLE 0.2 ⊇ SAMPLE 0.1,
    prefix windows of one hash space). The integer form (approximate
    row COUNT) needs table statistics and raises.

    Handles the full table-reference grammar before SAMPLE:
    `db.tbl`, `tbl AS x`, `db.tbl AS x`, and bare-alias `tbl x` —
    the subquery keeps the qualified name inside and the alias (or
    the last name segment) outside."""
    _IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
    _KEYWORDS = {
        "select", "from", "where", "and", "or", "join", "on", "as",
        "group", "order", "by", "limit", "having", "union", "inner",
        "left", "right", "full", "cross", "outer",
    }

    def _is_ident(t: str) -> bool:
        return bool(_IDENT.fullmatch(t)) and t.lower() not in _KEYWORDS

    lows = [t.lower() for t in tokens]
    for i in range(1, len(tokens) - 1):
        if not (lows[i] == "sample" and _is_number(tokens[i + 1])
                and _is_ident(tokens[i - 1])):
            continue
        k = float(tokens[i + 1])
        if k >= 1:
            raise ChDialectError(
                "SAMPLE <n> (approximate row count) needs table "
                "statistics; use the fractional form SAMPLE 0.x"
            )
        j = i + 2
        m = 0.0
        if j + 1 < len(tokens) and lows[j] == "offset" \
                and _is_number(tokens[j + 1]):
            m = float(tokens[j + 1])
            j += 2
        # walk back over [db .]* tbl [AS? alias]
        p = i - 1          # last token of the table reference
        alias = None
        if p >= 2 and lows[p - 1] == "as" and _is_ident(tokens[p - 2]):
            alias, p = tokens[p], p - 2
        elif p >= 1 and _is_ident(tokens[p - 1]):
            alias, p = tokens[p], p - 1  # bare alias: `tbl x SAMPLE`
        start = p
        while start >= 2 and tokens[start - 1] == "." \
                and _is_ident(tokens[start - 2]):
            start -= 2
        # anchored: a real SAMPLE clause's table reference directly
        # follows FROM / JOIN / a FROM-list comma. An identifier that
        # merely precedes the word SAMPLE elsewhere in the statement
        # is NOT rewritten — it falls through to the survivors check
        # at the end, which raises instead of emitting SQL Spark will
        # choke on downstream.
        if start == 0 or lows[start - 1] not in {"from", "join", ","}:
            continue
        name = "".join(tokens[start:p + 1])
        out_alias = alias or tokens[p]
        lo = int(m * 1_000_000)
        hi = int((m + k) * 1_000_000)
        sub = (
            f"( SELECT * FROM {name} WHERE "
            f"pmod(xxhash64(to_json(struct(*))), 1000000) >= {lo} "
            f"AND pmod(xxhash64(to_json(struct(*))), 1000000) < {hi} "
            f") AS {out_alias}"
        )
        out = tokens[:start] + _tokenize(sub) + tokens[j:]
        return _rewrite_sample(out)
    # survivors: any remaining clause-shaped SAMPLE (preceded by an
    # identifier or a closing paren, followed by a number) was a
    # placement this rewriter doesn't support — e.g. SAMPLE after a
    # parenthesized subquery. Fail HERE with a dialect error instead
    # of leaving raw CH syntax for Spark's parser to trip over.
    # (`sample` as a plain column name — keyword/punct before it —
    # still passes through untouched.)
    for i in range(1, len(tokens) - 1):
        if lows[i] == "sample" and _is_number(tokens[i + 1]) and (
            tokens[i - 1] == ")" or _is_ident(tokens[i - 1])
        ):
            raise ChDialectError(
                "unsupported SAMPLE placement: SAMPLE is supported "
                "directly after a table reference (FROM/JOIN), not "
                "after a subquery"
            )
    return tokens


def _rewrite_scalar_with(tokens: list[str]) -> list[str]:
    """CH's scalar WITH — `WITH <expr> AS <ident>, ... SELECT ...` —
    defines EXPRESSION aliases, not CTEs (Spark's WITH only takes
    `ident AS (subquery)`). Rewrite by substituting each alias with
    its parenthesized expression throughout the statement, exactly
    CH's own semantics (later entries and the body may reference
    earlier aliases). Genuine CTE entries (`x AS (SELECT ...)`) are
    kept as a WITH head; an unrecognized entry leaves the statement
    untouched for Spark to judge."""
    lows = [t.lower() for t in tokens]
    if not tokens or lows[0] != "with":
        return tokens
    i, depth = 1, 0
    entries: list[list[str]] = []
    cur: list[str] = []
    while i < len(tokens):
        t = tokens[i]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if depth == 0 and lows[i] == "select" and not _is_string(t):
            break
        if depth == 0 and t == ",":
            entries.append(cur)
            cur = []
        else:
            cur.append(t)
        i += 1
    else:
        return tokens  # no top-level SELECT after WITH
    if cur:
        entries.append(cur)
    subs: dict[str, list[str]] = {}

    def apply_subs(toks: list[str]) -> list[str]:
        out: list[str] = []
        for j, t in enumerate(toks):
            if t in subs and not _is_string(t):
                prev = out[-1] if out else None
                nxt = toks[j + 1] if j + 1 < len(toks) else None
                # not a member access or a same-named function call
                if prev != "." and nxt != "(":
                    out.extend(["("] + subs[t] + [")"])
                    continue
            out.append(t)
        return out

    ctes: list[list[str]] = []
    for e in entries:
        e = apply_subs(e)
        el = [x.lower() for x in e]
        if (len(e) >= 3 and el[1] == "as" and e[2] == "("
                and re.fullmatch(r"[A-Za-z_]\w*", e[0])):
            ctes.append(e)  # real CTE
        elif (len(e) >= 3 and el[-2] == "as"
                and re.fullmatch(r"[A-Za-z_]\w*", e[-1])):
            subs[e[-1]] = e[:-2]
        else:
            return tokens
    if not subs:
        return tokens  # pure-CTE WITH: Spark-native already
    body = apply_subs(tokens[i:])
    if ctes:
        head = ["WITH"]
        for k, e in enumerate(ctes):
            if k:
                head.append(",")
            head.extend(e)
        return head + body
    return body


def _strip_settings(tokens: list[str]) -> list[str]:
    """Drop a trailing CH `SETTINGS name = value[, ...]` clause — an
    execution-tuning hint with no Spark counterpart (Catalyst/AQE own
    those decisions). Guarded by the `ident =` shape so a column or
    alias literally named settings survives."""
    d = 0
    for i, t in enumerate(tokens):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif (d == 0 and t.lower() == "settings" and not _is_string(t)
                and i + 2 < len(tokens)
                and re.fullmatch(r"[A-Za-z_]\w*", tokens[i + 1])
                and tokens[i + 2] == "="):
            return tokens[:i]
    return tokens


def _rewrite_distinct_on(tokens: list[str]) -> list[str]:
    """CH `SELECT DISTINCT ON (e1, e2) ...` (21.8+) — keep the first
    row per distinct key, in the statement's ORDER BY order — is
    exactly `LIMIT 1 BY e1, e2`: rewrite to that form and let the
    LIMIT BY machinery build the row_number wrapper. Handled for the
    plain SELECT-leading statement; DISTINCT ON inside CTEs or
    subqueries is refused (same scope rule as LIMIT BY itself)."""
    lows = [t.lower() for t in tokens]
    leading = (
        len(tokens) >= 5
        and lows[0] == "select"
        and lows[1] == "distinct"
        and lows[2] == "on"
        and tokens[3] == "("
    )
    if not leading:
        for i in range(len(tokens) - 1):
            if (lows[i] == "distinct" and lows[i + 1] == "on"
                    and not _is_string(tokens[i])):
                raise ChDialectError(
                    "DISTINCT ON is supported only as the statement's "
                    "leading SELECT DISTINCT ON (...); rewrite inner "
                    "uses as LIMIT 1 BY")
        return tokens
    exprs, j = _parse_args(tokens, 3)
    if not exprs:
        raise ChDialectError("DISTINCT ON needs at least one expression")
    rest = tokens[j:]
    depth = 0
    insert = len(rest)
    for i, t in enumerate(rest):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and t.lower() in ("union", "intersect"):
            raise ChDialectError(
                "DISTINCT ON over a set operation is not supported; "
                "wrap the union in a named view first")
        elif (depth == 0 and t.lower() == "limit"
              and i + 2 < len(rest) and rest[i + 2].lower() == "by"):
            raise ChDialectError(
                "DISTINCT ON combined with LIMIT BY is not supported")
        elif depth == 0 and t.lower() == "limit" and insert == len(rest):
            insert = i  # per-group filter runs before the global LIMIT
    by_toks: list[str] = []
    for k, e in enumerate(exprs):
        if k:
            by_toks.append(",")
        by_toks += e
    return (["SELECT"] + rest[:insert]
            + ["LIMIT", "1", "BY"] + by_toks + rest[insert:])


def _rewrite_star_modifiers(tokens: list[str]) -> list[str]:
    """CH's star column modifiers (r9):

    - ``* EXCEPT col`` (unparenthesized single column — CH allows
      it) -> ``* EXCEPT (col)``, which Spark supports natively (the
      parenthesized multi-column form passes through untouched; a
      set-operation EXCEPT never directly follows ``*``).
    - ``* REPLACE (expr AS col, ...)`` -> ``* EXCEPT (cols...),
      expr AS col, ...``. Same columns and values; DOCUMENTED
      DIVERGENCE: the replaced columns move to the END of the
      projection (CH keeps them in place — the textual translation
      cannot know the table's column order).
    - ``* APPLY (f)`` refused honestly: it maps f over EVERY column,
      which needs the column list (not knowable from SQL text).
    """
    out: list[str] = []
    i = 0
    while i < len(tokens):
        t = tokens[i]
        tl = t.lower()
        prev_star = bool(out) and out[-1] == "*"
        if prev_star and tl == "apply" and not _is_string(t):
            raise ChDialectError(
                "* APPLY needs the table's column list, which a SQL "
                "text translation cannot know; apply the function to "
                "explicit columns instead")
        if (prev_star and tl == "except" and not _is_string(t)
                and i + 1 < len(tokens) and tokens[i + 1] != "("
                and tokens[i + 1].lower() not in ("select", "distinct")
                and _IDENT_RE.fullmatch(tokens[i + 1])):
            out += ["EXCEPT", "(", tokens[i + 1], ")"]
            i += 2
            continue
        if (prev_star and tl == "replace" and not _is_string(t)
                and i + 1 < len(tokens) and tokens[i + 1] == "("):
            args, j = _parse_args(tokens, i + 1)
            pairs = []
            for atoks in args:  # _parse_args yields token LISTS
                as_pos = [k for k, a in enumerate(atoks)
                          if a.lower() == "as" and not _is_string(a)]
                if not as_pos or as_pos[-1] != len(atoks) - 2:
                    raise ChDialectError(
                        "* REPLACE takes (expr AS column, ...) with a "
                        "trailing column name per entry")
                pairs.append((atoks[: as_pos[-1]], atoks[-1]))
            repl = ["EXCEPT", "("]
            for k, (_, col) in enumerate(pairs):
                if k:
                    repl.append(",")
                repl.append(col)
            repl.append(")")
            for expr_toks, col in pairs:
                repl += [","] + expr_toks + ["AS", col]
            out += repl
            i = j
            continue
        out.append(t)
        i += 1
    return out


def translate(sql: str) -> str:
    """ClickHouse SQL text -> Spark SQL text."""
    sql, _fmt = split_format_clause(sql)
    tokens = _tokenize(sql)
    # CH allows several arrayJoins per SELECT (cartesian expansion);
    # Spark allows one generator per projection — reject the
    # untranslatable shape here, not as a downstream analyzer error.
    if sum(1 for t in tokens if t.lower() == "arrayjoin") > 1:
        raise ChDialectError(
            "only one arrayJoin per statement is supported by the "
            "Spark translation (Spark allows a single generator per "
            "SELECT); rewrite extra arrayJoins as LATERAL VIEW "
            "explode via the DataFrame API"
        )
    _reject_with_fill(tokens)
    if any(t.lower() == "asof" and not _is_string(t) for t in tokens):
        # no Spark SQL text equivalent (needs the union-and-carry
        # window plan); ch_sql() routes it to operators.joins.asof_join
        raise ChDialectError(
            "ASOF JOIN cannot be expressed as a SQL text translation; "
            "execute through ch_sql() instead of translate()")
    tokens = _rewrite_scalar_with(_strip_settings(tokens))
    tokens = _rewrite_star_modifiers(tokens)
    tokens = _rewrite_array_literals(_strip_table_modifiers(tokens))
    tokens = _rewrite_array_join_clause(tokens)
    tokens = _rewrite_with_totals(tokens)
    tokens = _rewrite_limit_by(_rewrite_distinct_on(tokens))
    return _emit(_rewrite_sample(_rewrite_prewhere(tokens)))


# ---------------------------------------------------------------------------
# Statement execution.
# ---------------------------------------------------------------------------


def _run_with_fill(st, fill: dict) -> DataFrame:
    """Execute an extracted WITH FILL statement: translate + run the
    inner SELECT, densify through the gap_fill operator, then apply
    the statement's final order and post-fill LIMIT."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from clickhouse_observability_spark.operators.gapfill import gap_fill

    df = _spark_sql(st, fill["inner"])
    axis = fill["axis"]
    for c in (axis, *fill["keys"]):
        if c not in df.columns:
            raise ChDialectError(
                f"WITH FILL references {c!r} which the statement does "
                f"not project; add it to the SELECT list")
    def _interp_fn(spec):
        """Closed form of one iterated INTERPOLATE expression as a
        (prev_real_value, 1-based_gap_index) -> Column callable."""
        if spec is None:
            return None
        kind, v = spec
        if kind == "const":
            return lambda prev, i, v=v: F.expr(v)
        if kind == "add":
            return lambda prev, i, v=v: prev + i * F.lit(v)
        return lambda prev, i, v=v: prev * F.pow(F.lit(v), i)

    interp_spec = fill["interpolate"]
    if interp_spec == "*":
        interp = {c: None for c in df.columns
                  if c != axis and c not in fill["keys"]}
    else:
        interp = {}
        for c, spec in interp_spec:
            if c not in df.columns:
                raise ChDialectError(f"INTERPOLATE column {c!r} is not "
                                     f"projected")
            interp[c] = _interp_fn(spec)
    adt = df.schema[axis].dataType
    is_ts = isinstance(adt, (T.TimestampType, T.TimestampNTZType))
    is_date = isinstance(adt, T.DateType)
    step = fill["step"]
    _DAY_US = 86_400_000_000
    if step is None:
        # CH default STEP 1 — one axis unit: a second on DateTime,
        # a day on Date, one on numerics
        step = 1_000_000 if is_ts else 1
    elif is_ts and not fill["step_is_interval"]:
        # CH numeric STEP on DateTime counts seconds
        step = int(step * 1_000_000)
    elif is_date and fill["step_is_interval"]:
        if step % _DAY_US:
            raise ChDialectError(
                "a Date fill column needs a whole-day STEP")
        step //= _DAY_US
    elif not (is_ts or is_date) and fill["step_is_interval"]:
        raise ChDialectError(
            "INTERVAL STEP needs a date or timestamp fill column")
    out = gap_fill(
        df,
        axis,
        step,
        from_value=(F.expr(fill["from_sql"])
                    if fill["from_sql"] is not None else None),
        to_value=(F.expr(fill["to_sql"])
                  if fill["to_sql"] is not None else None),
        partition_by=tuple(fill["keys"]),
        interpolate=interp,
        descending=fill["descending"],
    )
    order = [F.col(k) for k in fill["keys"]]
    order.append(F.col(axis).desc() if fill["descending"]
                 else F.col(axis).asc())
    out = out.orderBy(*order)
    if fill["limit"] is not None:
        out = out.limit(fill["limit"])
    return out


_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(\w+)\s*\(([^)]*)\)\s*VALUES\s*(.+)$",
    re.IGNORECASE | re.DOTALL,
)

_MV_CREATE_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)"
    r"(.*?)\bAS\s+(SELECT\b.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _check_mv_middle(middle: str) -> bool:
    """Validate the DDL clauses between the view name and AS SELECT.

    CH MergeTree-family MV DDL carries storage clauses — `ENGINE =
    X(...)`, `ORDER BY (...)`, `PARTITION BY expr`, `TTL ...` — that
    are that engine's physical-layout knobs; this store self-manages
    layout (month-partitioned state parquet, merge-on-read), so they
    are accepted and stripped. `TO target` changes SEMANTICS (write
    into an existing table) and raises. Returns whether POPULATE was
    present; unrecognizable clauses raise rather than being guessed
    at."""
    toks = _tokenize(middle)
    lows = [t.lower() for t in toks]
    if "to" in lows:
        raise ChDialectError(
            "CREATE MATERIALIZED VIEW ... TO <table> is not supported "
            "— the view manages its own state store; query it by name")
    populate = "populate" in lows
    # everything else must look like storage clauses: ENGINE = ...,
    # ORDER/PARTITION/PRIMARY KEY/SAMPLE BY, SETTINGS, TTL. The
    # clause BODIES are arbitrary expressions we don't inspect; the
    # guard is that the run opens with a recognized clause head.
    allowed_heads = {"engine", "order", "partition", "primary",
                     "sample", "settings", "ttl", "populate"}
    if toks and lows[0] not in allowed_heads:
        raise ChDialectError(
            f"unrecognized clause before AS in CREATE MATERIALIZED "
            f"VIEW: {middle.strip()!r}")
    return populate

_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+(?:VIEW|TABLE)\s+(IF\s+EXISTS\s+)?(\w+)\s*$",
    re.IGNORECASE,
)

# CH EXPLAIN [SYNTAX|PLAN] stmt — SYNTAX shows the rewritten query
# (here: the Spark SQL translation), PLAN/default the execution plan
_EXPLAIN_RE = re.compile(
    r"^\s*EXPLAIN(\s+SYNTAX|\s+PLAN|\s+ESTIMATE|\s+PIPELINE|\s+AST)?"
    r"\s+(SELECT\b.+|WITH\b.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _explain_estimate(spark: SparkSession, logs, inner_sql: str):
    """CH `EXPLAIN ESTIMATE`: how many parts/rows/marks the statement
    would read, from INDEX metadata only. The analog here is real:
    parquet footers (LogsTable.parts() — O(#files) metadata pages,
    no data) filtered by the statement's prunable WHERE conjuncts —
    month partition equals/ranges, `service = 'lit'` against the
    per-file (service) min/max the sort order produces, and ts
    bounds against the per-file ts min/max. Conjuncts the index
    can't prune on are ignored, making the estimate an upper bound —
    exactly CH's contract (its estimate also reads only the sparse
    index). Marks are rows/8192 per part, CH's granule size."""
    import math

    from clickhouse_observability_spark.session import local_df

    tokens = _tokenize(split_format_clause(inner_sql)[0])
    lows = [t.lower() for t in tokens]
    # the top-level WHERE ... clause tail
    d, start = 0, None
    for i, t in enumerate(tokens):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and lows[i] == "where":
            start = i + 1
            break
    conjs: list[list[str]] = [[]]
    if start is not None:
        d = 0
        enders = {"group", "order", "limit", "having", "union",
                  "settings"}
        for t in tokens[start:]:
            tl = t.lower()
            if t == "(":
                d += 1
            elif t == ")":
                d -= 1
            elif d == 0 and tl in enders:
                break
            if d == 0 and tl == "and":
                conjs.append([])
            else:
                conjs[-1].append(t)

    def lit_of(toks: list[str]):
        """A comparable literal: number, string, or
        toDateTime('...')/toDate('...') wrappers."""
        if len(toks) == 1 and (_is_number(toks[0]) or _is_string(toks[0])):
            return (_string_value(toks[0]) if _is_string(toks[0])
                    else float(toks[0]))
        if (len(toks) == 4 and toks[0].lower() in ("todatetime", "todate")
                and toks[1] == "(" and _is_string(toks[2])
                and toks[3] == ")"):
            return _string_value(toks[2])
        return None

    # prunable conjunct -> (col, op, literal); ops normalized to
    # left-col form
    bounds = []
    for c in conjs:
        if len(c) < 3:
            continue
        if (c[0].lower() in ("service", "ts", "month")
                and c[1] in ("=", ">=", "<=", ">", "<")):
            v = lit_of(c[2:])
            if v is not None:
                bounds.append((c[0].lower(), c[1], v))
        elif (c[-1].lower() in ("service", "ts", "month")
              and c[-2] in ("=", ">=", "<=", ">", "<")):
            v = lit_of(c[:-2])
            if v is not None:
                bounds.append((c[-1].lower(), _ASOF_FLIP.get(c[-2], "="), v))

    parts = logs.parts()
    kept = []
    for p in parts:
        ok = True
        for col, op, v in bounds:
            # per-column literal coercion: a literal whose type can't
            # be compared against the index (string month, numeric
            # ts/service) makes the conjunct UNPRUNABLE — skip it and
            # keep the part (upper-bound contract) instead of letting
            # a str-vs-int comparison raise (advice r7)
            if col == "month":
                try:
                    fv = float(v)
                except (TypeError, ValueError):
                    continue
                if fv != int(fv):
                    # a fractional literal truncated would flip strict
                    # comparisons (month < 202505.5 pruning 202505) —
                    # unprunable keeps the upper-bound contract
                    continue
                v = int(fv)
                lo = hi = p["partition"]
            elif col == "service":
                if not isinstance(v, str):
                    continue
                lo, hi = p["min_service"], p["max_service"]
            else:  # ts — footer stats stringify in ISO order; only a
                # date/datetime STRING form compares meaningfully
                if not isinstance(v, str):
                    continue
                lo, hi = p["min_ts"], p["max_ts"]
            if lo is None or hi is None:
                continue  # no stats -> cannot prune this part
            if op == "=":
                ok = lo <= v <= hi
            elif op in (">=", ">"):
                ok = hi >= v if op == ">=" else hi > v
            else:
                ok = lo <= v if op == "<=" else lo < v
            if not ok:
                break
        if ok:
            kept.append(p)
    rows = sum(p["rows"] for p in kept)
    marks = sum(max(1, math.ceil(p["rows"] / 8192)) for p in kept) \
        if kept else 0
    return local_df(
        spark,
        [("default", "logs", len(kept), rows, marks)],
        "database string, table string, parts bigint, rows bigint, "
        "marks bigint",
    )

# CH aggregate name -> MV agg kind (uniq* variants all land on the
# HLL state; the estimate differs from CH's own algorithm only in
# the approximation, both are ±~1% at lgK=12)
_MV_AGG_MAP = {
    "count": "count", "sum": "sum", "min": "min", "max": "max",
    "avg": "avg", "uniq": "uniq", "uniqcombined": "uniq",
    "uniqhll12": "uniq",
}


def _split_top_commas(toks: list[str]) -> list[list[str]]:
    items, cur, d = [], [], 0
    for t in toks:
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        if t == "," and d == 0:
            items.append(cur)
            cur = []
        else:
            cur.append(t)
    if cur:
        items.append(cur)
    return items


def _parse_mv_select(select_sql: str) -> dict:
    """Parse the SELECT of a CREATE MATERIALIZED VIEW into an
    incremental-aggregation spec (sources/matview.py): projection
    items split into GROUP BY dimensions and mergeable aggregates,
    WHERE translated to a Spark predicate. Restrictions are raised,
    not mistranslated: single source table `logs`, GROUP BY present,
    every aggregate from the mergeable set and explicitly aliased,
    no HAVING/ORDER/LIMIT (meaningless inside an insert trigger)."""
    tokens = _tokenize(select_sql)
    lows = [t.lower() for t in tokens]
    if not tokens or lows[0] != "select":
        raise ChDialectError("materialized view body must be a SELECT")
    d, frm = 0, None
    for i, t in enumerate(tokens):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and lows[i] == "from" and not _is_string(t):
            frm = i
            break
    if frm is None:
        raise ChDialectError("materialized view SELECT needs FROM logs")
    if frm + 1 >= len(tokens) or lows[frm + 1] != "logs":
        raise ChDialectError(
            "materialized views are supported over the `logs` table")
    rest = tokens[frm + 2:]
    rlows = [t.lower() for t in rest]
    d = 0
    where_i = group_i = None
    for i, t in enumerate(rest):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and not _is_string(t):
            low = rlows[i]
            if low == "where" and where_i is None:
                where_i = i
            elif (low == "group" and i + 1 < len(rest)
                    and rlows[i + 1] == "by"):
                group_i = i
            elif low in ("having", "order", "limit", "join", "union"):
                raise ChDialectError(
                    f"{t.upper()} is not supported in a materialized "
                    f"view body (the trigger aggregates one inserted "
                    f"block; filter with WHERE, post-process on read)")
    if group_i is None:
        raise ChDialectError(
            "materialized view needs a GROUP BY (the mergeable-state "
            "contract; for raw-copy views use a plain TTL'd table)")
    where_toks = rest[where_i + 1:group_i] if where_i is not None else None

    dims, aggs = [], []
    for item in _split_top_commas(tokens[1:frm]):
        alias = None
        if (len(item) >= 3 and item[-2].lower() == "as"
                and re.fullmatch(r"[A-Za-z_]\w*", item[-1])):
            alias, item = item[-1], item[:-2]
        if (item and item[0].lower() in _MV_AGG_MAP and len(item) > 1
                and item[1] == "("):
            args, j = _parse_args(item, 1)
            if j == len(item):
                if alias is None:
                    raise ChDialectError(
                        f"alias every materialized-view aggregate "
                        f"(`{_emit(item)} AS name`)")
                if len(args) > 1:
                    raise ChDialectError(
                        "multi-argument aggregates are not supported "
                        "in materialized views")
                arg = args[0] if args and args[0] else None
                aggs.append({
                    "kind": _MV_AGG_MAP[item[0].lower()],
                    "arg_sql": (_emit(_rewrite_array_literals(arg))
                                if arg else None),
                    "alias": alias,
                })
                continue
        # a non-mergeable aggregate head is a spec error, not a dim
        if item and item[0].lower() in (
                "countif", "sumif", "avgif", "quantile", "median",
                "uniqexact", "anylast", "argmax", "argmin", "topk"):
            raise ChDialectError(
                f"{item[0]} is not a mergeable materialized-view "
                f"aggregate here; supported: count/sum/min/max/avg/"
                f"uniq (rewrite *If forms as WHERE, quantiles via the "
                f"DDSketch rollup layer)")
        if alias is None:
            if len(item) == 1 and re.fullmatch(r"[A-Za-z_]\w*", item[0]):
                alias = item[0]
            else:
                raise ChDialectError(
                    f"alias the dimension expression `{_emit(item)}`")
        dims.append({
            "sql": _emit(_rewrite_array_literals(item)),
            "alias": alias,
        })
    if not aggs:
        raise ChDialectError("materialized view needs at least one "
                             "aggregate")
    # every GROUP BY item must BE one of the projection's dimensions
    # — by alias, by identical (translated) expression text, or by
    # ordinal — else the trigger would silently aggregate at the
    # projection's grain instead of the stated one
    group_items = _split_top_commas(rest[group_i + 2:])
    if len(group_items) != len(dims):
        raise ChDialectError(
            f"GROUP BY lists {len(group_items)} expressions but the "
            f"projection has {len(dims)} non-aggregate items — they "
            f"must match (CH's own MV contract)")
    dim_keys = {d["alias"].lower() for d in dims} | {
        re.sub(r"\s+", "", d["sql"]).lower() for d in dims}
    for k, item in enumerate(group_items):
        if len(item) == 1 and _is_number(item[0]):
            if not 1 <= int(item[0]) <= len(dims):
                raise ChDialectError(
                    f"GROUP BY ordinal {item[0]} out of range")
            continue
        txt = re.sub(r"\s+", "",
                     _emit(_rewrite_array_literals(list(item)))).lower()
        if txt not in dim_keys:
            raise ChDialectError(
                f"GROUP BY expression `{_emit(item)}` does not match "
                f"any projected dimension (match by alias, identical "
                f"expression, or ordinal)")
    return {
        "dims": dims,
        "aggs": aggs,
        "where_sql": (_emit(_rewrite_array_literals(where_toks))
                      if where_toks else None),
    }

_ASOF_INEQ = {
    # left-op-right -> (direction, strict); CH `l.ts >= r.ts` is the
    # canonical backward form (latest right at or before)
    ">=": ("backward", False),
    ">": ("backward", True),
    "<=": ("forward", False),
    "<": ("forward", True),
}
_ASOF_FLIP = {">=": "<=", ">": "<", "<=": ">=", "<": ">"}


def _parse_table_ref(toks: list[str], what: str) -> tuple[str, str]:
    """`name`, `name alias`, `name AS alias` -> (name, alias)."""
    ident = r"[A-Za-z_]\w*"
    if len(toks) == 1 and re.fullmatch(ident, toks[0]):
        return toks[0], toks[0]
    if (len(toks) == 2 and re.fullmatch(ident, toks[0])
            and re.fullmatch(ident, toks[1])):
        return toks[0], toks[1]
    if (len(toks) == 3 and toks[1].lower() == "as"
            and re.fullmatch(ident, toks[0])
            and re.fullmatch(ident, toks[2])):
        return toks[0], toks[2]
    raise ChDialectError(
        f"ASOF JOIN {what} table must be a named view "
        f"(`name [AS alias]`), got {' '.join(toks)!r}; register "
        f"subqueries as views first")


def _extract_asof_join(sql: str):
    """Parse a top-level `FROM a ASOF [LEFT] JOIN b ON/USING ...`
    out of a SELECT. Returns None when the statement has no ASOF
    join; else the spec _run_asof_join executes. ON needs equality
    conjuncts on SAME-NAMED columns plus exactly ONE timestamp
    inequality (CH's own ASOF shape); USING(k..., t) treats the last
    column as the backward-inexact asof axis, per CH."""
    tokens = _tokenize(sql)
    lows = [t.lower() for t in tokens]
    d = 0
    at = None
    for i, t in enumerate(tokens):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif lows[i] == "asof" and not _is_string(t):
            if d > 0:
                raise ChDialectError(
                    "ASOF JOIN inside a subquery is not supported; "
                    "apply it at the top level (or call "
                    "operators.joins.asof_join on the inner frames)")
            at = i
            break
    if at is None:
        return None
    # the governing FROM
    d, frm = 0, None
    for i in range(at - 1, -1, -1):
        if tokens[i] == ")":
            d += 1
        elif tokens[i] == "(":
            d -= 1
        elif d == 0 and lows[i] == "from":
            frm = i
            break
    if frm is None:
        raise ChDialectError("ASOF JOIN without a governing FROM")
    left_name, left_alias = _parse_table_ref(tokens[frm + 1:at], "left")
    j = at + 1
    how = "inner"
    if j < len(tokens) and lows[j] == "left":
        how = "left"
        j += 1
    if j >= len(tokens) or lows[j] != "join":
        raise ChDialectError("ASOF must be followed by [LEFT] JOIN")
    j += 1
    # right table ref runs to ON/USING
    k = j
    while k < len(tokens) and lows[k] not in ("on", "using"):
        k += 1
    if k == len(tokens):
        raise ChDialectError("ASOF JOIN needs ON or USING")
    right_name, right_alias = _parse_table_ref(tokens[j:k], "right")
    keys: list[str] = []
    direction, strict = "backward", False
    left_ts = right_ts = None
    if lows[k] == "using":
        if k + 1 >= len(tokens) or tokens[k + 1] != "(":
            raise ChDialectError("USING needs a parenthesized column list")
        args, end = _parse_args(tokens, k + 1)
        cols = [a[0] for a in args]
        if (len(cols) < 2
                or any(len(a) != 1 or not re.fullmatch(r"[A-Za-z_]\w*", a[0])
                       for a in args)):
            raise ChDialectError(
                "ASOF USING needs at least one key column plus the "
                "trailing asof column")
        keys, left_ts = cols[:-1], cols[-1]
        right_ts = left_ts
    else:
        # condition tokens run to the next top-level clause keyword
        end = k + 1
        d = 0
        enders = {"where", "group", "order", "limit", "having",
                  "union", "settings", "format"}
        while end < len(tokens):
            t = tokens[end]
            if t == "(":
                d += 1
            elif t == ")":
                d -= 1
            elif d == 0 and lows[end] in enders and not _is_string(t):
                break
            end += 1
        cond = tokens[k + 1:end]
        # split on top-level AND
        conjs: list[list[str]] = [[]]
        d = 0
        for t in cond:
            if t == "(":
                d += 1
            elif t == ")":
                d -= 1
            if d == 0 and t.lower() == "and":
                conjs.append([])
            else:
                conjs[-1].append(t)
        ineq = None
        for c in conjs:
            if (len(c) != 7 or c[1] != "." or c[5] != "."
                    or c[3] not in ("=", ">=", "<=", ">", "<")):
                raise ChDialectError(
                    f"ASOF ON conjuncts must be `x.col OP y.col`, got "
                    f"{' '.join(c)!r}")
            q1, c1, op, q2, c2 = c[0], c[2], c[3], c[4], c[6]
            quals = {left_alias: "l", right_alias: "r"}
            if q1 not in quals or q2 not in quals or q1 == q2:
                raise ChDialectError(
                    f"ASOF ON conjunct must compare the two join "
                    f"sides, got {' '.join(c)!r}")
            if quals[q1] == "r":  # normalize to left-op-right
                q1, c1, q2, c2 = q2, c2, q1, c1
                op = _ASOF_FLIP.get(op, op)
            if op == "=":
                if c1 != c2:
                    raise ChDialectError(
                        f"ASOF equality keys must be same-named "
                        f"columns ({c1} vs {c2}); alias one side first")
                keys.append(c1)
            else:
                if ineq is not None:
                    raise ChDialectError(
                        "ASOF JOIN takes exactly one inequality")
                ineq = (c1, op, c2)
        if ineq is None or not keys:
            raise ChDialectError(
                "ASOF ON needs at least one equality and exactly one "
                "inequality (the asof axis)")
        left_ts, op, right_ts = ineq
        direction, strict = _ASOF_INEQ[op]
    return {
        "select_toks": tokens[:frm],
        "tail_toks": tokens[end if lows[k] == "on" else end:],
        "left": (left_name, left_alias),
        "right": (right_name, right_alias),
        "keys": keys,
        "left_ts": left_ts,
        "right_ts": right_ts,
        "direction": direction,
        "strict": strict,
        "how": how,
    }


def _run_asof_join(st, spec: dict) -> DataFrame:
    """Execute an extracted ASOF JOIN: build the joined frame through
    the union-and-carry operator (one key shuffle, no row blowup),
    then rewrite and run the rest of the statement over it. Right
    non-key columns surface as `<right_alias>_<col>` — CH exposes
    them via the qualifier, a flat frame needs the prefix."""
    from clickhouse_observability_spark.operators.joins import asof_join

    lname, lalias = spec["left"]
    rname, ralias = spec["right"]
    left_df = _spark_sql(st, f"SELECT * FROM {lname}")
    right_df = _spark_sql(st, f"SELECT * FROM {rname}")
    prefix = f"{ralias}_"
    joined = asof_join(
        left_df, right_df, spec["keys"], spec["left_ts"],
        spec["right_ts"], direction=spec["direction"],
        strict=spec["strict"], how=spec["how"], right_prefix=prefix,
    )
    carry = {c for c in right_df.columns if c not in spec["keys"]}

    def dequalify(toks: list[str]) -> list[str]:
        out: list[str] = []
        i = 0
        while i < len(toks):
            t = toks[i]
            if (i + 2 < len(toks) and toks[i + 1] == "."
                    and t in (lalias, ralias)
                    and re.fullmatch(r"[A-Za-z_]\w*", toks[i + 2])):
                col = toks[i + 2]
                if t == ralias and col in carry:
                    out.append(prefix + col)
                else:
                    out.append(col)
                i += 3
                continue
            out.append(t)
            i += 1
        return out

    toks = (dequalify(spec["select_toks"]) + ["FROM", "__asof_joined"]
            + dequalify(spec["tail_toks"]))
    return _spark_sql(st, " ".join(toks),
                      extra={"__asof_joined": lambda: joined})


_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+TABLE\s+(\w+)"
    r"(?:\s+PARTITION\s+(\d+))?"
    r"(?:\s+FINAL)?"
    r"(?:\s+(DEDUPLICATE))?\s*$",
    re.IGNORECASE,
)

# CH partition lifecycle: ALTER TABLE t DROP/DETACH/ATTACH PARTITION p
# (partition expression = the toYYYYMM month value, optionally quoted
# — CH accepts both `202401` and `'202401'`), plus TRUNCATE TABLE.
_PART_OP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+(DROP|DETACH|ATTACH)\s+PARTITION\s+"
    r"'?(\d+)'?\s*$",
    re.IGNORECASE,
)
_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$",
    re.IGNORECASE,
)
# cross-table partition movement (CH): MOVE hands the month's files
# to another table; REPLACE/ATTACH ... FROM hardlink-copies them in,
# leaving the source untouched. RENAME / EXCHANGE are the Atomic
# database's metadata-only name-mapping edits.
_MOVE_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+MOVE\s+PARTITION\s+'?(\d+)'?\s+"
    r"TO\s+TABLE\s+(\w+)\s*$",
    re.IGNORECASE,
)
_COPY_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+(REPLACE|ATTACH)\s+PARTITION\s+"
    r"'?(\d+)'?\s+FROM\s+(\w+)\s*$",
    re.IGNORECASE,
)
# manual storage-tier move (r12): ALTER TABLE logs MOVE PARTITION p
# TO VOLUME 'cold' / TO DISK 'archive' — the operator-initiated twin
# of the armed TTL mover (sources/tiering.py)
_MOVE_PART_VOL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+MOVE\s+PARTITION\s+'?(\d+)'?\s+"
    r"TO\s+(?:VOLUME|DISK)\s+'([^']+)'\s*$",
    re.IGNORECASE,
)
_RENAME_TABLE_RE = re.compile(
    r"^\s*RENAME\s+TABLE\s+(\w+)\s+TO\s+(\w+)\s*$", re.IGNORECASE)
_UNDROP_TABLE_RE = re.compile(
    r"^\s*UNDROP\s+TABLE\s+(\w+)\s*$", re.IGNORECASE)
_EXCHANGE_RE = re.compile(
    r"^\s*EXCHANGE\s+TABLES\s+(\w+)\s+AND\s+(\w+)\s*$", re.IGNORECASE)
# schema-evolution rewrites: MATERIALIZE stores an evolved column's
# read-path value physically; CLEAR resets a column to its DEFAULT
# within one partition (CH requires the IN PARTITION scope).
_MAT_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+MATERIALIZE\s+COLUMN\s+`?(\w+)`?"
    r"(?:\s+IN\s+PARTITION\s+'?(\d+)'?)?\s*$",
    re.IGNORECASE,
)
# CH data-skipping indexes: ADD INDEX name expr TYPE t [GRANULARITY g]
# is metadata-only; MATERIALIZE INDEX builds the per-file summaries;
# DROP removes definition+summaries, CLEAR keeps the definition.
_ADD_INDEX_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(\w+)\s+(.+?)\s+TYPE\s+(minmax|set\s*\(\s*(\d+)\s*\)|bloom_filter"
    r"(?:\s*\([^)]*\))?|tokenbf_v1\s*\(([^)]*)\))"
    r"(?:\s+GRANULARITY\s+(\d+))?\s*$",
    re.IGNORECASE,
)
_DROP_INDEX_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+INDEX\s+(IF\s+EXISTS\s+)?"
    r"(\w+)\s*$",
    re.IGNORECASE,
)
_MAT_INDEX_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+MATERIALIZE\s+INDEX\s+(\w+)\s*$",
    re.IGNORECASE,
)
_CLEAR_INDEX_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+CLEAR\s+INDEX\s+(\w+)\s*$",
    re.IGNORECASE,
)
_CLEAR_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+CLEAR\s+COLUMN\s+(IF\s+EXISTS\s+)?"
    r"`?(\w+)`?\s+IN\s+PARTITION\s+'?(\d+)'?\s*$",
    re.IGNORECASE,
)
_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+TABLES\s*$", re.IGNORECASE)
# SELECT ... INTO OUTFILE 'path' [FORMAT fmt] — the clickhouse-client
# extract statement. clickhouse-client STREAMS result blocks to the
# file and refuses to overwrite; the analog streams too (r9): text
# formats row-stream through toLocalIterator (driver memory stays
# O(one partition) however large the result — `SELECT * FROM logs
# INTO OUTFILE` with no LIMIT is fine), Parquet is a Spark
# single-partition write moved into place. Always returns the row
# count.
# CREATE TABLE ... ENGINE = <anything>: refused with the operator
# route (see the ch_sql arm) — matched BEFORE Spark's parser can
# throw a raw PARSE_SYNTAX_ERROR at the ENGINE clause.
_ENGINE_DDL_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)[\s\S]*?"
    r"\bENGINE\s*=\s*(\w+)", re.IGNORECASE)

_OUTFILE_RE = re.compile(
    r"^(\s*(?:SELECT|WITH)\b.*?)\s+INTO\s+OUTFILE\s+'([^']+)'"
    r"\s*(?:FORMAT\s+(\w+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _outfile_cell(v) -> str:
    """CSV/TSV cell text, schema-independent and chunk-independent
    (the r8 pandas writer's dtype inference could format the same
    column differently per chunk). NULL prints empty like the prior
    writer (divergence from CH's \\N, documented)."""
    import datetime as _dt

    if v is None:
        return ""
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return str(v)


def _outfile_jcell(v):
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        # CH JSONEachRow DateTime spelling
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("latin-1")
    return v


def _write_outfile(df: DataFrame, path: str, fmt: str) -> int:
    """Stream a result frame to one local file in a CH client format.
    CH parity: an existing target refuses (never overwrite). Text
    formats never materialize the result on the driver
    (toLocalIterator row streaming); Parquet writes a single Spark
    partition and renames it into place atomically."""
    import csv as _csv
    import json as _json
    import shutil as _shutil

    if os.path.exists(path):
        raise ChDialectError(
            f"file {path!r} already exists (ClickHouse INTO OUTFILE "
            "refuses to overwrite)")
    f = fmt.lower()
    if f == "parquet":
        tmpdir = path + ".__outfile_tmp__"
        try:
            df.coalesce(1).write.mode("overwrite").parquet(tmpdir)
            import glob as _glob

            part = _glob.glob(os.path.join(tmpdir, "part-*.parquet"))[0]
            import pyarrow.parquet as _pq

            n = _pq.ParquetFile(part).metadata.num_rows
            os.replace(part, path)
        finally:
            _shutil.rmtree(tmpdir, ignore_errors=True)
        return int(n)
    text_formats = {
        "csv": (",", False), "csvwithnames": (",", True),
        "tsv": ("\t", False), "tabseparated": ("\t", False),
        "tsvwithnames": ("\t", True),
        "tabseparatedwithnames": ("\t", True),
        "jsoneachrow": (None, False),
    }
    if f not in text_formats:
        raise ChDialectError(
            f"INTO OUTFILE format {fmt!r} not supported; use "
            "CSV[WithNames], TabSeparated[WithNames], JSONEachRow, "
            "or Parquet")
    sep, header = text_formats[f]
    cols = df.columns
    n = 0
    tmp = path + ".__outfile_tmp__"
    try:
        with open(tmp, "w", newline="") as fh:
            if sep is None:  # JSONEachRow
                for row in df.toLocalIterator():
                    fh.write(_json.dumps(
                        {c: _outfile_jcell(v) for c, v in zip(cols, row)},
                        ensure_ascii=False, separators=(",", ":")))
                    fh.write("\n")
                    n += 1
            else:
                w = _csv.writer(fh, delimiter=sep, lineterminator="\n")
                if header:
                    w.writerow(cols)
                for row in df.toLocalIterator():
                    w.writerow([_outfile_cell(v) for v in row])
                    n += 1
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return n
_CHECK_TABLE_RE = re.compile(
    r"^\s*CHECK\s+TABLE\s+(\w+)\s*$", re.IGNORECASE)
_FREEZE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+FREEZE"
    r"(?:\s+PARTITION\s+'?(\d+)'?)?"
    r"(?:\s+WITH\s+NAME\s+'([^']+)')?\s*$",
    re.IGNORECASE,
)
_UNFREEZE_RE = re.compile(
    r"^\s*SYSTEM\s+UNFREEZE\s+WITH\s+NAME\s+'([^']+)'\s*$",
    re.IGNORECASE,
)
_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+(?:TABLE\s+)?(\w+)\s*$", re.IGNORECASE)
# INSERT ... SELECT (CH backfill/ETL form): optional column list,
# positional mapping from the SELECT's output, absent columns take
# the INSERT defaults. The inner SELECT is full dialect surface
# (WITH, system tables, the logs table itself).
_INSERT_SELECT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(\w+)\s*(?:\(([^)]*)\))?\s*"
    r"((?:SELECT|WITH)\b.+)$",
    re.IGNORECASE | re.DOTALL,
)

# CH projections: ALTER TABLE t ADD PROJECTION p (SELECT ...),
# DROP PROJECTION, MATERIALIZE PROJECTION
_PROJ_ADD_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+PROJECTION\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\((.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_PROJ_DROP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+PROJECTION\s+"
    r"(IF\s+EXISTS\s+)?(\w+)\s*$",
    re.IGNORECASE,
)
_PROJ_MAT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+MATERIALIZE\s+PROJECTION\s+(\w+)\s*$",
    re.IGNORECASE,
)


def _norm_sql(s: str | None) -> str | None:
    return None if s is None else re.sub(r"\s+", "", s).lower()


def _parse_scalar_aggs(core: list[str]):
    """SELECT <aliased mergeable aggs> FROM logs [WHERE ...] with NO
    GROUP BY -> the same spec shape _parse_mv_select yields, with
    empty dims (grand-total routing). None when the shape doesn't
    fit (unaliased or non-mergeable items, joins, other tables)."""
    lows = [t.lower() for t in core]
    d, frm = 0, None
    for i, t in enumerate(core):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and lows[i] == "from" and not _is_string(t):
            frm = i
            break
    if frm is None or frm + 1 >= len(core) or lows[frm + 1] != "logs":
        return None
    rest = core[frm + 2:]
    where_sql = None
    if rest:
        if rest[0].lower() != "where" or len(rest) == 1:
            return None
        where_sql = _emit(_rewrite_array_literals(rest[1:]))
    aggs = []
    for item in _split_top_commas(core[1:frm]):
        if not (len(item) >= 3 and item[-2].lower() == "as"
                and re.fullmatch(r"[A-Za-z_]\w*", item[-1])):
            return None
        alias, item = item[-1], item[:-2]
        if not (item and item[0].lower() in _MV_AGG_MAP
                and len(item) > 1 and item[1] == "("):
            return None
        args, j = _parse_args(item, 1)
        if j != len(item) or len(args) > 1:
            return None
        arg = args[0] if args and args[0] else None
        aggs.append({
            "kind": _MV_AGG_MAP[item[0].lower()],
            "arg_sql": (_emit(_rewrite_array_literals(arg))
                        if arg else None),
            "alias": alias,
        })
    return {"dims": [], "aggs": aggs, "where_sql": where_sql} \
        if aggs else None


def _route_projection(st):
    """Transparent aggregate-projection routing — ClickHouse's
    optimizer behavior for `ADD PROJECTION`: a single-table
    SELECT ... FROM logs ... GROUP BY ... whose dimensions,
    aggregates and WHERE are all answerable from a projection's
    mergeable states is served FROM those states (O(state rows))
    instead of scanning the base table. Returns the routed DataFrame
    or None (fall back to the base scan — results identical either
    way, which a pytest pins).

    Safety: the WHERE must be a function of the projection's
    plain-column dimensions (filtering state rows == filtering base
    rows only when the predicate depends on group keys alone). That
    is enforced by RESOLUTION, not text analysis: the predicate is
    analyzed against a dims-only frame; any reference to a non-dim
    column fails analysis and the router declines."""
    logs = st.logs
    if logs is None:
        return None
    projs = [v for v in getattr(logs, "materialized_views", [])
             # covers_table: rows predating the projection are absent
             # from its states until MATERIALIZE PROJECTION — serving
             # then would silently drop them (CH stays correct there
             # by answering old parts from raw data; we stay correct
             # by not routing at all)
             if v.spec.get("projection") and v.spec.get("covers_table")]
    if not projs:
        return None
    tokens = _tokenize(split_format_clause(st.sql)[0])
    lows = [t.lower() for t in tokens]
    if not tokens or lows[0] != "select":
        return None
    # split off a top-level ORDER BY / LIMIT tail (re-applied after)
    d, cut = 0, None
    for i, t in enumerate(tokens):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and lows[i] in ("order", "limit") \
                and not _is_string(t):
            cut = i
            break
    core = tokens[:cut] if cut is not None else tokens
    tail = tokens[cut:] if cut is not None else []
    d = 0
    has_group = False
    for i, t in enumerate(core):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and core[i].lower() == "group" and not _is_string(t):
            has_group = True
            break
    if not has_group:
        # grand-total shape: SELECT <aggs> FROM logs [WHERE ...]
        q = _parse_scalar_aggs(core)
        if q is None:
            return None
    else:
        try:
            q = _parse_mv_select(" ".join(core))
        except ChDialectError:
            return None  # not a routable aggregate shape
    # output column order as written in the SELECT list
    out_order = [*(d2["alias"] for d2 in q["dims"]),
                 *(a["alias"] for a in q["aggs"])]
    frm = next(i for i, t in enumerate(core) if t.lower() == "from"
               and not _is_string(t))
    ordered = []
    for item in _split_top_commas(core[1:frm]):
        if (len(item) >= 3 and item[-2].lower() == "as"
                and re.fullmatch(r"[A-Za-z_]\w*", item[-1])):
            ordered.append(item[-1])
        elif len(item) == 1 and re.fullmatch(r"[A-Za-z_]\w*", item[0]):
            ordered.append(item[0])
    if sorted(ordered) == sorted(out_order):
        out_order = ordered

    for p in projs:
        spec = p.spec
        dim_by_sql = {_norm_sql(d2["sql"]): d2["alias"]
                      for d2 in spec["dims"]}
        dim_by_alias = {d2["alias"].lower(): d2["alias"]
                        for d2 in spec["dims"]}
        agg_by_key = {
            (a["kind"], _norm_sql(a["arg_sql"])): a["alias"]
            for a in spec["aggs"]
        }
        dims_map = []
        for d2 in q["dims"]:
            src = dim_by_sql.get(_norm_sql(d2["sql"])) \
                or dim_by_alias.get(d2["sql"].lower())
            if src is None:
                break
            dims_map.append((src, d2["alias"]))
        else:
            aggs_map = []
            for a in q["aggs"]:
                src = agg_by_key.get((a["kind"], _norm_sql(a["arg_sql"])))
                if src is None:
                    break
                aggs_map.append((src, a["alias"]))
            else:
                where = q["where_sql"]
                p_where = spec.get("where_sql")
                if p_where is not None:
                    # a filtered projection serves only the SAME filter
                    if _norm_sql(where) != _norm_sql(p_where):
                        continue
                    where = None  # states already carry the filter
                try:
                    if where is not None:
                        # resolution gate: predicate must be a function
                        # of the projection's IDENTITY dims alone — a
                        # dim whose alias shadows a base column with a
                        # DIFFERENT expression (lower(service) AS
                        # service) would resolve but filter transformed
                        # values, silently diverging from the base scan
                        # (review r6), so only alias==expression dims
                        # are offered to the resolver
                        dim_cols = [
                            d2["alias"] for d2 in spec["dims"]
                            if _norm_sql(d2["sql"]) == d2["alias"].lower()
                        ]
                        p.read_states().select(*dim_cols).filter(
                            F.expr(where))
                    served = p.serve(dims_map, aggs_map, where_sql=where)
                    served = served.select(*out_order)
                    if tail:
                        # the tail (ORDER BY/LIMIT) may reference dim
                        # EXPRESSIONS (e.g. ORDER BY toStartOfHour(ts),
                        # GROUP BY ... ORDER BY count() DESC) that only
                        # resolve against the base scan, not the served
                        # frame's aliased columns — analysis failure
                        # here must fall back, not surface (review r7:
                        # a materialized projection must never make a
                        # query error that worked on the base scan)
                        served = _spark_sql(
                            st, "SELECT * FROM __projection_served "
                            + " ".join(tail),
                            extra={"__projection_served":
                                   lambda s=served: s})
                except Exception:
                    continue  # unresolvable -> next projection / base
                return served
    return None

# CH TTL arming — the reference's own statement (db.go:59-66):
# ALTER TABLE logs MODIFY TTL ts + INTERVAL <n> DAY DELETE
_TTL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+TTL\s+ts\s*\+\s*"
    r"INTERVAL\s+(\d+)\s+DAY(?:\s+DELETE)?\s*$",
    re.IGNORECASE,
)
_TTL_REMOVE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+REMOVE\s+TTL\s*$",
    re.IGNORECASE,
)
# CH MATERIALIZE TTL: apply the armed TTL to existing data NOW
# (CH re-evaluates TTL on all parts instead of waiting for merges;
# here: one synchronous apply_retention pass — delete/collapse,
# column reverts and tier moves per the armed spec). No armed spec =
# no-op, like CH on a TTL-less table.
_TTL_MATERIALIZE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+MATERIALIZE\s+TTL\s*$",
    re.IGNORECASE,
)
# TTL GROUP BY (downsample-on-age): ALTER TABLE logs MODIFY TTL
# ts + INTERVAL <n> DAY GROUP BY service[, <expr(ts)>]
# [SET col = agg(...), ...] — CH's raw-young/rolled-up-old lifecycle
_TTL_GROUP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+TTL\s+ts\s*\+\s*"
    r"INTERVAL\s+(\d+)\s+DAY\s+GROUP\s+BY\s+(.+?)"
    r"(?:\s+SET\s+(.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# storage tiering (r12) + conditional TTL (r13): the general
# comma-separated TTL expression —
# ALTER TABLE logs MODIFY TTL
#   ts + INTERVAL 30 DAY TO VOLUME 'cold'[,
#   ts + INTERVAL 7 DAY DELETE WHERE level = 'DEBUG'][,
#   ts + INTERVAL 365 DAY DELETE]
# Like CH, MODIFY TTL replaces the WHOLE table TTL expression (any
# prior delete/move/conditional rules are superseded by this
# statement's set). Clauses split on TOP-LEVEL commas (a DELETE
# WHERE predicate may contain commas: IN lists, function calls).
_TTL_MULTI_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+TTL\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_TTL_CLAUSE_RE = re.compile(
    r"^\s*ts\s*\+\s*INTERVAL\s+(\d+)\s+DAY"
    r"(?:\s+(DELETE)(?:\s+WHERE\s+(.+?))?"
    r"|\s+TO\s+(VOLUME|DISK)\s+'([^']+)'"
    r"|\s+RECOMPRESS\s+CODEC\s*\(\s*(\w+)\s*"
    r"(?:\(\s*(\d+)\s*\))?\s*\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# CH schema evolution: metadata-only column DDL
# (sources/schema_evolution.py). ADD COLUMN's tail is token-parsed
# (types carry parens; DEFAULT is a full expression).
_ADD_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+"
    r"(IF\s+EXISTS\s+)?(\w+)\s*$",
    re.IGNORECASE,
)
_RENAME_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+"
    r"(\w+)\s+TO\s+(\w+)\s*$",
    re.IGNORECASE,
)
_MODIFY_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+COLUMN\s+(\w+)\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_COMMENT_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+COMMENT\s+COLUMN\s+(\w+)\s+"
    r"'((?:[^']|'')*)'\s*$",
    re.IGNORECASE,
)


def _split_add_column_tail(tail: str) -> tuple[str, str | None, str | None]:
    """`<type> [DEFAULT expr] [COMMENT 'x']` -> (type, default_sql,
    comment). Token-level so a DEFAULT string literal can't spoof the
    COMMENT clause and vice versa; DEFAULT expressions pass through
    the dialect's expression translator (CH vocabulary allowed)."""
    toks = _tokenize(tail)
    lows = [t.lower() for t in toks]
    d = 0
    def_start = com_start = None
    for i, t in enumerate(toks):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and not _is_string(t):
            if lows[i] == "default" and def_start is None:
                def_start = i
            elif lows[i] == "comment" and com_start is None:
                com_start = i
    end = len(toks)
    comment = None
    if com_start is not None:
        if (com_start + 1 >= len(toks)
                or not _is_string(toks[com_start + 1])):
            raise ChDialectError("COMMENT needs a string literal")
        comment = _string_value(toks[com_start + 1])
        end = com_start
    default = None
    if def_start is not None:
        if def_start + 1 >= end:
            raise ChDialectError("DEFAULT needs an expression")
        default = _mutation_expr(toks[def_start + 1:end])
        end = def_start
    ch_type = " ".join(toks[:end])
    if not ch_type:
        raise ChDialectError("ADD COLUMN needs a type")
    return ch_type, default, comment


# CH mutations: ALTER TABLE t DELETE WHERE ... / UPDATE a=b WHERE ...,
# plus the lightweight-delete form DELETE FROM t WHERE ...
_ALTER_MUT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+(DELETE|UPDATE)\b(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_LW_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _strip_in_partition(rest: str) -> tuple[str, int | None]:
    """Remove a top-level `IN PARTITION <id>` immediately preceding
    WHERE from a mutation tail; returns (rest_without_clause, id) or
    (rest, None). Token-level so string literals can't spoof it."""
    toks = _tokenize(rest)
    lows = [t.lower() for t in toks]
    d = 0
    for i, t in enumerate(toks):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif (d == 0 and lows[i] == "in" and not _is_string(t)
                and i + 3 < len(toks)
                and lows[i + 1] == "partition"
                and not _is_string(toks[i + 1])
                and lows[i + 3] == "where"
                and not _is_string(toks[i + 3])):
            pid = toks[i + 2]
            pid_val = _string_value(pid) if _is_string(pid) else pid
            if re.fullmatch(r"\d+", pid_val):
                return _emit(toks[:i] + toks[i + 3:]), int(pid_val)
    return rest, None


def _mutation_expr(tokens: list[str]) -> str:
    """CH expression tokens -> Spark SQL text (vocab + array-literal
    + 1-based-subscript rewrites; same pipeline SELECT bodies get)."""
    return _emit(_rewrite_array_literals(list(tokens)))


def _parse_update_tail(rest: str) -> tuple[dict[str, str], str]:
    """`col = expr [, col2 = expr2 ...] WHERE pred` ->
    ({col: spark_expr}, spark_pred). WHERE is mandatory (CH refuses a
    whole-table UPDATE without it, and so do we)."""
    toks = _tokenize(rest)
    lows = [t.lower() for t in toks]
    d, where_at = 0, None
    for i, t in enumerate(toks):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and lows[i] == "where":
            where_at = i
            break
    if where_at is None or where_at == len(toks) - 1:
        raise ChDialectError(
            "ALTER TABLE ... UPDATE requires a WHERE clause "
            "(ClickHouse refuses unguarded whole-table updates)")
    assigns_toks, pred_toks = toks[:where_at], toks[where_at + 1:]
    # split assignments on top-level commas
    groups: list[list[str]] = [[]]
    d = 0
    for t in assigns_toks:
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        if t == "," and d == 0:
            groups.append([])
        else:
            groups[-1].append(t)
    assignments: dict[str, str] = {}
    for grp in groups:
        if len(grp) < 3 or grp[1] != "=" \
                or not re.fullmatch(r"[A-Za-z_]\w*", grp[0]):
            raise ChDialectError(
                "UPDATE assignments must be `column = expression` "
                f"pairs, got {' '.join(grp)!r}")
        if grp[0] in assignments:
            raise ChDialectError(f"duplicate assignment to {grp[0]!r}")
        assignments[grp[0]] = _mutation_expr(grp[2:])
    return assignments, _mutation_expr(pred_toks)

_LOGS_DEFAULTS = {
    "ts": "current_timestamp()",
    "service": "''",
    "level": "''",
    "msg": "''",
    "attrs": "'{}'",
    "trace_id": "''",
    "span_id": "''",
}


_SYSTEM_TABLES = ("parts", "columns", "tables", "query_log",
                  "mutations", "projections", "detached_parts",
                  "dropped_tables", "data_skipping_indices", "metrics",
                  "one", "disks", "storage_policies")
# the ones that describe the session, not the logs table
_SESSION_SYSTEM_TABLES = ("query_log", "dropped_tables", "metrics", "one")


def _system_table(st, name: str) -> DataFrame:
    """The frame behind CH `system.<name>` introspection. parts reads
    parquet footers (O(#files) metadata pages, CH's cost class), the
    rest are tiny local frames."""
    from clickhouse_observability_spark.session import local_df

    spark, logs = st.spark, st.logs
    if logs is None and name not in _SESSION_SYSTEM_TABLES:
        raise ChDialectError(f"system.{name} needs the logs table")
    if name == "parts":
        return logs.parts_df()
    if name == "disks":
        # CH system.disks: one row per storage location. Here: the
        # base path + every occupied tier volume (sources/tiering),
        # with live parquet bytes per root (O(#files) stat calls —
        # the same metadata-only cost class as system.parts).
        import glob as _glob

        from clickhouse_observability_spark.schema import (
            PARTITION_COLUMN,
        )
        from clickhouse_observability_spark.sources.tiering import (
            tier_roots,
        )

        rows = []
        for vol, root in tier_roots(logs.path):
            files = _glob.glob(os.path.join(
                root, f"{PARTITION_COLUMN}=*", "*.parquet"))
            rows.append((vol, root,
                         sum(os.path.getsize(f) for f in files),
                         len(files)))
        return local_df(
            spark, rows,
            "name string, path string, bytes_on_disk bigint, "
            "parts int",
        )
    if name == "storage_policies":
        # CH system.storage_policies: the armed move rules as the
        # policy's volume list — the default volume first, then the
        # TTL tiers in horizon order (move_factor-style knobs have
        # no analog; the horizon IS the policy here).
        from clickhouse_observability_spark.sources.tiering import (
            DEFAULT_VOLUME,
            read_storage_tiers,
        )

        rows = [("default", DEFAULT_VOLUME, 1, None)]
        rows += [
            ("default", r["volume"], i + 2, int(r["days"]))
            for i, r in enumerate(read_storage_tiers(logs.path))
        ]
        return local_df(
            spark, rows,
            "policy_name string, volume_name string, "
            "volume_priority int, move_after_days int",
        )
    if name == "columns":
        from clickhouse_observability_spark.schema import LOGS_SCHEMA
        rows = [("logs", f.name, f.dataType.simpleString(), pos + 1)
                for pos, f in enumerate(LOGS_SCHEMA.fields)]
        rows += [("logs", c["name"], c["spark_type"],
                  len(rows) + i + 1)
                 for i, c in enumerate(logs.schema_ext.columns)]
        return local_df(
            spark, rows,
            "table string, name string, type string, position int",
        )
    if name == "tables":
        rows = [("logs", "MergeTree", "toYYYYMM(ts)", "(service, ts)")]
        # projections are table-internal (CH lists them in
        # system.projections, not system.tables)
        rows += [(mv.name, "MaterializedView", "", "")
                 for mv in logs.materialized_views
                 if not mv.spec.get("projection")]
        return local_df(
            spark, rows,
            "name string, engine string, partition_key string, "
            "sorting_key string",
        )
    if name == "query_log":
        if st.query_log is None:
            raise ChDialectError(
                "system.query_log needs a QueryLog (the API server "
                "passes its own; standalone callers pass query_log=)")
        return st.query_log.to_df(spark)
    if name == "mutations":
        from clickhouse_observability_spark.sources.mutations import (
            mutation_history,
        )

        rows = [
            ("logs", r["mutation_id"], r["command"], r["create_time"],
             r["op"], int(r["matched_rows"]), r["affected_months"],
             int(r["is_done"]))
            for r in mutation_history(logs.path)
        ]
        return local_df(
            spark, rows,
            "table string, mutation_id string, command string, "
            "create_time string, op string, matched_rows bigint, "
            "affected_months string, is_done int",
        )
    if name == "detached_parts":
        # CH system.detached_parts: parts sitting in detached/ —
        # here, months parked by ALTER TABLE ... DETACH PARTITION.
        # Footer-free: one listdir per detached month (name, file
        # count, bytes), the same metadata-only cost class as the
        # operation that created them.
        from clickhouse_observability_spark.schema import PARTITION_COLUMN
        from clickhouse_observability_spark.sources.mutations import (
            _DETACHED_DIR,
        )

        rows = []
        det = os.path.join(logs.path, _DETACHED_DIR)
        if os.path.isdir(det):
            for d in sorted(os.listdir(det)):
                if not d.startswith(f"{PARTITION_COLUMN}="):
                    continue
                full = os.path.join(det, d)
                files = [f for f in os.listdir(full)
                         if f.endswith(".parquet")]
                rows.append((
                    "logs", int(d.split("=", 1)[1]), len(files),
                    sum(os.path.getsize(os.path.join(full, f))
                        for f in files),
                ))
        return local_df(
            spark, rows,
            "table string, partition int, files int, bytes_on_disk "
            "bigint",
        )
    if name == "one":
        # CH system.one: the one-row dummy table (`SELECT 1 FROM
        # system.one` is CH's `SELECT 1`)
        return local_df(spark, [(0,)], "dummy tinyint")
    if name == "metrics":
        # CH system.metrics: current engine state as (metric, value,
        # description) rows. The analog reads the live SparkContext —
        # scheduler and executor state, driver-side, zero jobs.
        import time as _time

        sc = spark.sparkContext
        tracker = sc.statusTracker()
        try:
            n_exec = sc._jsc.sc().getExecutorMemoryStatus().size()
        except Exception:  # JVM bridge shape varies across deploys
            n_exec = -1
        rows = [
            ("ActiveJobs", float(len(tracker.getActiveJobsIds())),
             "jobs currently running in the scheduler"),
            ("ActiveStages", float(len(tracker.getActiveStageIds())),
             "stages currently running"),
            ("Executors", float(n_exec),
             "live executor endpoints (incl. driver in local mode)"),
            ("DefaultParallelism", float(sc.defaultParallelism),
             "scheduler default task parallelism"),
            ("UptimeSeconds",
             round(_time.time() - sc.startTime / 1000.0, 1),
             "seconds since the session's context started"),
        ]
        return local_df(
            spark, rows, "metric string, value double, "
            "description string",
        )
    if name == "data_skipping_indices":
        # CH system.data_skipping_indices: one row per index with its
        # definition and how many at-rest files its summaries cover.
        from clickhouse_observability_spark.sources.skip_index import (
            SkipIndex,
        )

        rows = [("logs", i.meta["name"], i.meta["type"],
                 i.meta["expr"], int(i.meta["granularity"]),
                 int(i.meta.get("n_files", 0)))
                for i in SkipIndex.load_all(logs.path)]
        return local_df(
            spark, rows,
            "table string, name string, type string, expr string, "
            "granularity int, files_indexed int",
        )
    if name == "dropped_tables":
        # CH system.dropped_tables: tables inside the Atomic keep
        # window, restorable with UNDROP TABLE. One row per parked
        # directory in the session's name mapping; metadata-only.
        from clickhouse_observability_spark.sources.mutations import (
            _DROPPED_KEY,
        )

        rows = [(nm, parked) for nm, parked in sorted(
            ((st.tables or {}).get(_DROPPED_KEY) or {}).items())]
        return local_df(spark, rows, "name string, data_path string")
    # projections
    rows = []
    for mv in logs.materialized_views:
        if not mv.spec.get("projection"):
            continue
        dims = ", ".join(d["alias"] for d in mv.spec["dims"])
        aggs = ", ".join(
            f"{a['kind']}({a['arg_sql'] or ''})"
            for a in mv.spec["aggs"])
        rows.append(("logs", mv.name, "aggregate", dims, aggs))
    return local_df(
        spark, rows,
        "table string, name string, type string, "
        "dimensions string, aggregates string",
    )


def _tokenbf_prune_logs(spark, sql, logs, other_names=()):
    """CH consults data-skipping indexes automatically inside its
    scan; the SQL-path analog: when a statement's WHERE carries a
    top-level `hasToken(msg, '<literal>')` conjunct and the logs
    table has a MATERIALIZED tokenbf_v1 index on msg, the statement's
    `logs` binds to the index-pruned file set instead of the full
    scan. Returns the pruned frame or None (= full scan).

    Soundness guards — each bails to the full scan:
    - the statement is a plain read (SELECT/WITH — ALTER/INSERT
      route away from the Spark SQL path and must never narrow);
    - `logs` appears exactly ONCE (a second reference could carry
      different predicates that the pruned view would also narrow),
      AT DEPTH 0, and DIRECTLY AFTER a FROM/JOIN keyword — so the
      depth-0 WHERE provably filters `logs` itself, not some other
      relation whose columns share a name (r8 hole: `SELECT (SELECT
      count() FROM logs) FROM other WHERE hasToken(msg, ...)` pruned
      the inner logs by the OUTER table's predicate);
    - no OTHER registered relation name (views=/tables= mappings,
      attached materialized views) appears anywhere in the statement;
    - exactly one depth-0 WHERE, and NO depth-0 OR inside it (AND
      binds tighter: `hasToken(...) AND x OR y` keeps y-only rows
      that pruned files may hold);
    - the conjunct is literally hasToken[CaseInsensitive](msg, 'lit').
    Pruning is conservative (kept files ⊇ files containing the
    token), so the surviving query's semantics are untouched —
    `test_skip_index` pins equality against the unpruned answer."""
    if not re.match(r"\s*(?:SELECT|WITH)\b", sql, re.IGNORECASE):
        return None
    tokens = _tokenize(sql)
    lows = [t.lower() for t in tokens]
    if lows.count("logs") != 1:
        return None
    other = {n.lower() for n in other_names if n.lower() != "logs"}
    if other and any(t in other for t in lows):
        return None
    li = lows.index("logs")
    if li == 0 or lows[li - 1] not in ("from", "join"):
        return None
    depth = 0
    for t in tokens[:li]:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
    if depth != 0:
        return None
    depth, wi = 0, None
    for i, t in enumerate(tokens):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and lows[i] == "where":
            if wi is not None:
                return None
            wi = i
    if wi is None:
        return None
    enders = {"group", "order", "limit", "having", "union",
              "intersect", "except", "settings", "format", "window"}
    depth, we = 0, len(tokens)
    for i in range(wi + 1, len(tokens)):
        if tokens[i] == "(":
            depth += 1
        elif tokens[i] == ")":
            depth -= 1
        elif depth == 0 and lows[i] in enders:
            we = i
            break
    clause = tokens[wi + 1:we]
    conjs, cur, depth = [], [], 0
    for t in clause:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if depth == 0 and t.lower() == "or":
            return None
        if depth == 0 and t.lower() == "and":
            conjs.append(cur)
            cur = []
        else:
            cur.append(t)
    conjs.append(cur)
    from clickhouse_observability_spark.schema import LOGS_COLUMNS

    string_cols = {c for c in LOGS_COLUMNS if c != "ts"}
    string_cols |= {c["name"] for c in logs.schema_ext.columns
                    if c["spark_type"] == "string"}

    def probe(want_types, expr_name, value):
        from clickhouse_observability_spark.sources.skip_index import (
            SkipIndex,
            read_pruned,
        )

        for idx in SkipIndex.load_all(logs.path):
            if (idx.meta["type"] in want_types
                    and idx.meta["expr"].strip() == expr_name
                    and idx.is_materialized()):
                df, _ = read_pruned(spark, logs.path,
                                    idx.meta["name"], value)
                return df
        return None

    for c in conjs:
        if (len(c) == 6
                and c[0].lower() in ("hastoken",
                                     "hastokencaseinsensitive")
                and c[1] == "(" and c[2].lower() == "msg"
                and c[3] == "," and _is_string(c[4]) and c[5] == ")"):
            df = probe(("tokenbf_v1",), "msg", _string_value(c[4]))
            if df is not None:
                return df
        # plain equality on a STRING column: `col = 'lit'` (either
        # side) probes a set/minmax/bloom index on that column — the
        # trace-id point lookup. String columns only: the Bloom
        # build hashes the TYPED value, so a numeric column's
        # xxhash64 wouldn't match a string-literal probe.
        if len(c) == 3 and c[1] == "=":
            lhs, rhs = c[0], c[2]
            if _is_string(lhs) and not _is_string(rhs):
                lhs, rhs = rhs, lhs
            if (not _is_string(lhs) and _is_string(rhs)
                    and lhs.lower() in string_cols):
                df = probe(("set", "minmax", "bloom_filter"),
                           lhs.lower(), _string_value(rhs))
                if df is not None:
                    return df
        # col IN ('a', 'b', ...): a row satisfying the conjunct
        # matches SOME literal, so the union of per-literal keep
        # sets is a sound superset — probe each and union the frames
        # at the FILE level (read once over the union, not N reads)
        if (len(c) >= 5 and not _is_string(c[0])
                and c[0].lower() in string_cols
                and c[1].lower() == "in" and c[2] == "("
                and c[-1] == ")"):
            inner = c[3:-1]
            lits = [t for i, t in enumerate(inner) if i % 2 == 0]
            seps = [t for i, t in enumerate(inner) if i % 2 == 1]
            if all(_is_string(t) for t in lits) \
                    and all(t == "," for t in seps):
                from clickhouse_observability_spark.sources import (
                    skip_index as SIX,
                )

                for idx in SIX.SkipIndex.load_all(logs.path):
                    if (idx.meta["type"] in ("set", "minmax")
                            and idx.meta["expr"].strip()
                            == c[0].lower()
                            and idx.is_materialized()):
                        keep, skip = set(), None
                        for lit_tok in lits:
                            k, s = idx.prune(spark, _string_value(lit_tok))
                            keep |= k
                            skip = s if skip is None else (skip & s)
                        df, _ = SIX._assemble_pruned(
                            spark, logs.path, keep, skip or set())
                        return df
    return None


def _named_table(name: str, logs, tables):
    """Resolve a statement's table name: `tables` mapping first (the
    multi-table surface), then the conventional `logs` argument.
    Reserved double-underscore keys hold mapping metadata (the
    dropped-table park list), never tables."""
    if tables and name in tables and not name.startswith("__"):
        return tables[name]
    if name.lower() == "logs" and logs is not None:
        return logs
    raise ChDialectError(
        f"unknown table {name!r}; pass additional LogsTables via "
        "ch_sql(tables={name: table})")


# keywords a relation name follows
_RELATION_HEADS = ("from", "join", "table", "describe", "desc")


@dataclass
class _Stmt:
    """One ch_sql call: the statement and the tables it may use."""

    spark: SparkSession
    sql: str
    logs: object = None
    views: dict | None = None
    query_log: object = None
    tables: dict | None = None


def _spark_sql(st: _Stmt, text: str, prefix: str = "",
               extra: dict | None = None) -> DataFrame:
    """Translate CH `text` and run it through `spark.sql` with every
    name it reads bound for this call only — the one place this
    module creates and drops temp views.

    A name resolves, last match winning: `views=` entries, then
    `tables=` entries, then `logs` (narrowed to the index-pruned file
    set when _tokenbf_prune_logs admits the whole statement), then
    attached materialized views, then `extra` (frames a statement
    builds mid-flight: the ASOF-joined and projection-served frames);
    `system.<name>` resolves to _system_table. Each name the text
    mentions is registered under a view name unique to this call, and
    its identifier tokens and dictGet* dictionary literals are
    rewritten to it (not `x.name` fields, nor a name the text also
    aliases outside a relation position), so concurrent statements on
    one session never see each other's bindings. Spark resolves temp
    views when it analyzes the statement, which `spark.sql` does
    before returning; the views are then dropped, whether it returned
    or raised."""
    logs = st.logs
    frames = {n.lower(): (lambda df=df: df)
              for n, df in (st.views or {}).items()}
    frames.update((n.lower(), t.read) for n, t in (st.tables or {}).items()
                  if n.lower() != "logs" and not n.startswith("__"))
    if logs is not None:
        def logs_frame():
            other = set(st.views or ()) | {
                n for n in (st.tables or ()) if not n.startswith("__")
            } | {mv.name for mv in logs.materialized_views
                 if not mv.spec.get("projection")}
            pruned = _tokenbf_prune_logs(st.spark, st.sql, logs,
                                         other_names=other)
            return logs.read() if pruned is None else pruned

        frames["logs"] = logs_frame
        # attached materialized views are queryable by name — reads
        # see the FINALIZED merge-on-read frame (documented
        # divergence from CH's raw-state reads); projections are not
        # name-addressable (CH hides them; _route_projection serves
        # queries from them instead)
        frames.update((mv.name.lower(), mv.read)
                      for mv in logs.materialized_views
                      if not mv.spec.get("projection"))
    frames.update(extra or {})
    tokens = _tokenize(text)
    lows = [t.lower() for t in tokens]
    # a name the text also introduces as an alias (`... AS name`)
    # keeps that meaning: it is rebound only where a relation stands
    aliases = {lows[j + 1] for j in range(len(lows) - 1)
               if lows[j] == "as" and tokens[j + 2:j + 3] != ["("]}
    call = uuid.uuid4().hex[:12]
    bound: dict[str, str] = {}
    out, i = [], 0
    try:
        while i < len(tokens):
            key, width, quote = lows[i], 1, ""
            if (key == "system" and i + 2 < len(tokens)
                    and tokens[i + 1] == "."
                    and lows[i + 2] in _SYSTEM_TABLES):
                key, width = f"system.{lows[i + 2]}", 3
            elif _is_string(tokens[i]):
                # dictGet* / dictHas name their view by a string literal
                key = None
                if (i > 1 and tokens[i - 1] == "("
                        and lows[i - 2].startswith("dict")):
                    key, quote = _string_value(tokens[i]).lower(), "'"
            elif (i and tokens[i - 1] == ".") or (
                    key in aliases and tokens[i + 1:i + 2] != ["."]
                    and (lows[i - 1] if i else "") not in _RELATION_HEADS):
                key = None
            if width == 1 and key not in frames:
                out.append(tokens[i])
                i += 1
                continue
            if key not in bound:
                frame = (_system_table(st, key[len("system."):])
                         if width == 3 else frames[key]())
                view = f"__ch{call}_{key.replace('.', '_')}"
                frame.createOrReplaceTempView(view)
                bound[key] = view
            out.append(quote + bound[key] + quote)
            i += width
        return st.spark.sql(prefix + translate(" ".join(out)))
    finally:
        for view in bound.values():
            st.spark.catalog.dropTempView(view)


# A handler returning _DECLINE passes the statement on down the
# dispatch table (and finally to Spark).
_DECLINE = object()


def _create_table(st, m):
    name, eng = m.groups()
    if name.lower() == "logs" and eng.lower() == "mergetree":
        # the reference's own bootstrap DDL (db.go:41-49) — and
        # the statement SHOW CREATE TABLE logs reconstructs, so
        # the round-trip is executable. Idempotent like
        # IF NOT EXISTS (the reference always passes it).
        if st.logs is None:
            raise ChDialectError("CREATE TABLE logs needs the "
                                 "logs table binding")
        st.logs.init_schema()
        return 0
    # honest refusal with the sanctioned route (r10): a generic
    # CREATE TABLE ... ENGINE = <X> would need a table catalog
    # this shim deliberately doesn't grow (the reference has ONE
    # table); the engine SEMANTICS are first-class operators.
    raise ChDialectError(
        f"CREATE TABLE {name} with ENGINE = {eng} is not "
        f"supported by this shim (its catalog is the single logs "
        f"table + views). The MergeTree engine-family SEMANTICS "
        f"are available as merge-on-read operators: "
        f"operators/merge_engines.py (Replacing / Collapsing / "
        f"VersionedCollapsing / Summing) and operators/rollup.py "
        f"(AggregatingMergeTree -State/-Merge); the logs table "
        f"itself is the MergeTree analog (sources/writer.py).")


def _into_outfile(st, m):
    inner, out_path, fmt = m.groups()
    df = ch_sql(st.spark, inner, logs=st.logs, views=st.views,
                query_log=st.query_log, tables=st.tables)
    return _write_outfile(df, out_path, fmt or "TabSeparated")


def _create_matview(st, m):
    if_not_exists, name, middle, select_sql = m.groups()
    populate = _check_mv_middle(middle)
    logs = st.logs
    if logs is None:
        raise ChDialectError(
            "CREATE MATERIALIZED VIEW needs the logs table")
    if (name.lower() in ("logs", "system")
            or name.lower().startswith("system_")):
        raise ChDialectError(
            f"materialized view name {name!r} would shadow the "
            f"base table / system views; pick another name")
    if any(v.name == name for v in logs.materialized_views):
        if if_not_exists:
            return 0
        raise ChDialectError(f"materialized view {name!r} already "
                             f"exists")
    spec = _parse_mv_select(select_sql)
    spec["name"] = name
    mv = logs.create_materialized_view(spec)
    if populate:
        # CH POPULATE: backfill from the rows already at rest
        mv.refresh(logs.read())
    return 0


def _drop_view(st, m):
    name = m.group(2)
    if st.logs is not None and any(
            v.name == name for v in st.logs.materialized_views):
        st.logs.drop_materialized_view(name)
        return 0
    if st.tables and name in st.tables and not name.startswith("__"):
        # DROP TABLE on a mapped table: CH Atomic keeps the data for
        # the undrop window — park the directory, detach the name
        from clickhouse_observability_spark.sources import mutations as MU

        MU.drop_table(st.tables, name)
        return 0
    # a non-MV, non-mapped DROP falls through to Spark, whose own
    # IF EXISTS semantics handle temp views correctly
    return _DECLINE


def _undrop_table(st, m):
    from clickhouse_observability_spark.sources import mutations as MU

    if st.tables is None:
        raise ChDialectError(
            "UNDROP TABLE needs ch_sql(tables={...}) — the name "
            "mapping records the parked directory")
    MU.undrop_table(st.spark, st.tables, m.group(1))
    return 0


def _add_projection(st, m, logs):
    _, if_not_exists, pname, body = m.groups()
    if not body.strip().lower().startswith("select"):
        raise ChDialectError(
            "only AGGREGATE projections (SELECT ... GROUP BY ...) "
            "are supported; for a sort-order projection use the "
            "Z-order/bucketing layout tools (sources/zorder.py)")
    if any(v.name == pname for v in logs.materialized_views):
        if if_not_exists:
            return 0
        raise ChDialectError(f"projection {pname!r} already exists")
    spec = _parse_mv_select(body)
    spec["name"] = pname
    spec["projection"] = True
    # Coverage contract (review r6): CH's projections lag only in
    # DATA — its optimizer answers old parts from raw data, so
    # queries stay CORRECT before MATERIALIZE. A state-serving
    # router can't mix sources per part, so the flag below gates
    # routing entirely: a projection added to a NON-empty table
    # is not servable until MATERIALIZE PROJECTION backfills
    # (queries fall back to the base scan — correct, just not
    # accelerated). Added to an empty table it covers everything
    # from the first insert.
    spec["covers_table"] = bool(logs.read().isEmpty())
    logs.create_materialized_view(spec)
    return 0


def _drop_projection(st, m):
    if st.logs is None:
        return _DECLINE
    _, if_exists, pname = m.groups()
    if any(v.name == pname and v.spec.get("projection")
           for v in st.logs.materialized_views):
        st.logs.drop_materialized_view(pname)
        return 0
    if if_exists:
        return 0
    raise ChDialectError(f"no projection {pname!r}")


def _materialize_projection(st, m):
    if st.logs is None:
        return _DECLINE
    pname = m.group(2)
    for v in st.logs.materialized_views:
        if v.name == pname and v.spec.get("projection"):
            v.refresh(st.logs.read())
            # backfilled -> now answerable for the whole table
            v.spec["covers_table"] = True
            v.save()
            return 0
    raise ChDialectError(f"no projection {pname!r}")


def _optimize(st, m, logs):
    # CH `OPTIMIZE TABLE t [PARTITION p] [FINAL]` forces the
    # background MergeTree merge; the engine's counterpart is the
    # explicit partition compaction (sources/retention.py).
    # Returns the number of input files merged, like INSERT
    # returns its row count.
    from clickhouse_observability_spark.sources.retention import (
        compact_partition,
    )
    from clickhouse_observability_spark.sources.tiering import (
        partition_months,
    )

    _, part, dedup = m.groups()
    months = ([int(part)] if part is not None
              else partition_months(logs.path))  # every volume
    return sum(
        compact_partition(st.spark, logs.path, month,
                          deduplicate=dedup is not None)
        for month in months
    )


def _show_tables(st, m):
    # name-addressable tables only, like system.tables: the base
    # table + attached matviews; projections stay hidden (CH
    # lists them in system.projections)
    from clickhouse_observability_spark.session import local_df

    if st.logs is None and not st.tables:
        raise ChDialectError("SHOW TABLES needs the logs table "
                             "or a tables= mapping")
    names = []
    if st.logs is not None:
        names.append("logs")
        names += sorted(
            mv.name for mv in st.logs.materialized_views
            if not mv.spec.get("projection"))
    # the multi-table mapping's live names (dropped tables are
    # parked under __dropped__ and stay hidden, as in CH)
    names += sorted(n for n in (st.tables or {})
                    if not n.startswith("__") and n not in names)
    return local_df(st.spark, [(n,) for n in names], "name string")


def _check_table(st, m, logs):
    # CH CHECK TABLE: per-part integrity rows (part_path,
    # is_passed, message) + a summary row. Footer-only metadata
    # pass — the manifest-verification cost class, never a data
    # rescan (sources/mutations.check_table).
    from clickhouse_observability_spark.session import local_df
    from clickhouse_observability_spark.sources.mutations import (
        check_table,
    )

    rows = [(r["part_path"], int(r["is_passed"]), r["message"])
            for r in check_table(st.spark, logs.path)]
    return local_df(
        st.spark, rows,
        "part_path string, is_passed int, message string")


def _show_create(st, m, logs):
    # reconstruct the CH DDL the reference bootstraps
    # (db.go:41-49) plus this table's OWN armed state: TTL and
    # attached projections — the statement a CH operator would
    # need to recreate the table elsewhere.
    from clickhouse_observability_spark.session import local_df
    from clickhouse_observability_spark.sources.retention import (
        read_column_ttls,
        read_table_ttl_spec,
    )

    col_ttls = read_column_ttls(logs.path)

    def _ct(col: str) -> str:  # armed COLUMN TTL, rendered CH-style
        d = col_ttls.get(col)
        return f" TTL ts + INTERVAL {d} DAY" if d else ""

    parts = [
        "CREATE TABLE logs (",
        "  ts DateTime64(3, 'UTC'), service LowCardinality(String),",
        f"  level LowCardinality(String){_ct('level')}, "
        f"msg String{_ct('msg')}, attrs String{_ct('attrs')},",
        f"  trace_id String{_ct('trace_id')}, "
        f"span_id String{_ct('span_id')}",
    ]
    for line in logs.schema_ext.ddl_clauses():
        parts[-1] += ","
        parts.append(line)
    for mv in logs.materialized_views:
        if not mv.spec.get("projection"):
            continue
        sel = ", ".join(
            [f"{d['sql']} AS {d['alias']}" for d in mv.spec["dims"]]
            + [
                f"{a['kind']}({a['arg_sql'] or ''}) AS {a['alias']}"
                for a in mv.spec["aggs"]
            ])
        grp = ", ".join(d["alias"] for d in mv.spec["dims"])
        parts[-1] += ","
        parts.append(
            f"  PROJECTION {mv.name} (SELECT {sel}"
            + (f" GROUP BY {grp}" if grp else "") + ")")
    parts += [
        ") ENGINE = MergeTree",
        "PARTITION BY toYYYYMM(ts)",
        "ORDER BY (service, ts)",
    ]
    ttl_spec = read_table_ttl_spec(logs.path)
    clauses = []
    for r in sorted((ttl_spec or {}).get("to_volume") or [],
                    key=lambda r: int(r["days"])):
        clauses.append(
            f"ts + INTERVAL {int(r['days'])} DAY "
            f"TO {r.get('kind', 'VOLUME')} '{r['volume']}'")
    for r in (ttl_spec or {}).get("delete_where") or []:
        clauses.append(
            f"ts + INTERVAL {int(r['days'])} DAY "
            f"DELETE WHERE {r['where']}")
    for r in (ttl_spec or {}).get("recompress") or []:
        lvl = r.get("level")
        codec = r["codec"] + ("" if lvl is None else f"({int(lvl)})")
        clauses.append(
            f"ts + INTERVAL {int(r['days'])} DAY "
            f"RECOMPRESS CODEC({codec})")
    if ttl_spec is not None and ttl_spec.get("retention_days") is not None:
        days = ttl_spec["retention_days"]
        gb = ttl_spec.get("group_by")
        if gb:
            clause = (f"ts + INTERVAL {days} DAY "
                      f"GROUP BY {', '.join(gb)}")
            sets = ttl_spec.get("set") or {}
            if sets:
                clause += " SET " + ", ".join(
                    f"{c} = {e}" for c, e in sets.items())
            clauses.append(clause)
        else:
            clauses.append(f"ts + INTERVAL {days} DAY DELETE")
    if clauses:
        # renders exactly what MODIFY TTL re-parses (round-trip)
        parts.append("TTL " + ", ".join(clauses))
    return local_df(st.spark, [("\n".join(parts),)], "statement string")


def _freeze(st, m, logs):
    # CH FREEZE: hardlink snapshot into _shadow/<name> — zero
    # bytes copied; mutations/merges replace files, never modify
    # them, so the frozen view stays consistent.
    from clickhouse_observability_spark.sources import mutations as MU

    _, part, name = m.groups()
    return MU.freeze_table(
        st.spark, logs.path,
        month=int(part) if part else None, name=name)["files"]


def _unfreeze(st, m):
    from clickhouse_observability_spark.sources import mutations as MU

    if st.logs is None:
        raise ChDialectError("SYSTEM UNFREEZE needs the logs table")
    MU.unfreeze_table(st.spark, st.logs.path, m.group(1))
    return 0


def _partition_op(st, m, t):
    # CH partition lifecycle -> metadata-only directory moves
    # (sources/mutations.py): DROP unlinks the month, DETACH
    # parks it under `_detached/` (underscore dirs are invisible
    # to Spark's listing — CH's detached/ semantics), ATTACH
    # returns it. Returns the file count touched, the analog of
    # OPTIMIZE's merged-file count.
    from clickhouse_observability_spark.sources import mutations as MU

    _, op, part = m.groups()
    fn = {"drop": MU.drop_partition, "detach": MU.detach_partition,
          "attach": MU.attach_partition}[op.lower()]
    return fn(st.spark, t.path, int(part))["files"]


def _move_to_volume(st, m, t):
    from clickhouse_observability_spark.sources.tiering import (
        move_partition_to_volume,
    )

    _, part, vol = m.groups()
    return int(move_partition_to_volume(t.path, int(part), vol)["moved"])


def _move_to_table(st, m, src, dst):
    from clickhouse_observability_spark.sources import mutations as MU

    return MU.move_partition_to_table(
        st.spark, src.path, dst.path, int(m.group(2)))["files"]


def _copy_partition(st, m, dst, src):
    from clickhouse_observability_spark.sources import mutations as MU

    _, op, part, _ = m.groups()
    return MU.copy_partition_from(
        st.spark, dst.path, src.path, int(part),
        replace=op.lower() == "replace")["files"]


def _rename_table(st, m):
    from clickhouse_observability_spark.sources import mutations as MU

    if st.tables is None:
        raise ChDialectError(
            "RENAME TABLE needs ch_sql(tables={...}) — the name "
            "mapping is what the statement edits")
    MU.rename_table(st.tables, *m.groups())
    return 0


def _exchange_tables(st, m):
    from clickhouse_observability_spark.sources import mutations as MU

    if st.tables is None:
        raise ChDialectError(
            "EXCHANGE TABLES needs ch_sql(tables={...}) — the "
            "name mapping is what the statement edits")
    MU.exchange_tables(st.tables, *m.groups())
    return 0


def _materialize_column(st, m, t):
    from clickhouse_observability_spark.sources import mutations as MU

    _, col, part = m.groups()
    return MU.materialize_column(
        st.spark, t.path, col,
        month=None if part is None else int(part),
    )["matched_rows"]


def _add_index(st, m, t):
    from clickhouse_observability_spark.sources.skip_index import (
        SkipIndex,
    )

    _, iname, expr_ch, type_full, set_n, tok_params, gran = m.groups()
    tf = type_full.lower()
    if tf.startswith("set"):
        type_, param = "set", int(set_n)
    elif tf.startswith("tokenbf_v1"):
        type_ = "tokenbf_v1"
        param = [int(x.strip()) for x in tok_params.split(",")
                 if x.strip()] or None
    elif tf.startswith("bloom_filter"):
        type_, param = "bloom_filter", None
    else:
        type_, param = "minmax", None
    spark_expr = _mutation_expr(_tokenize(expr_ch))
    if_not_exists = re.search(r"IF\s+NOT\s+EXISTS", st.sql,
                              re.IGNORECASE) is not None
    try:
        SkipIndex.create(t.path, iname, spark_expr, type_,
                         param=param, granularity=int(gran or 1))
    except ValueError as e:
        if not (if_not_exists and "already exists" in str(e)):
            raise
    return 0


def _skip_index(t, iname: str, if_exists: bool = False):
    from clickhouse_observability_spark.sources.skip_index import (
        SkipIndex,
    )

    idx = SkipIndex.load(t.path, iname)
    if idx is None and not if_exists:
        raise ChDialectError(f"no skip index {iname!r}")
    return idx


def _drop_index(st, m, t):
    _, if_exists, iname = m.groups()
    idx = _skip_index(t, iname, bool(if_exists))
    if idx is not None:
        idx.drop()
    return 0


def _materialize_index(st, m, t):
    return _skip_index(t, m.group(2)).materialize(st.spark)["files"]


def _clear_index(st, m, t):
    _skip_index(t, m.group(2)).clear()
    return 0


def _clear_column(st, m, t):
    from clickhouse_observability_spark.schema import LOGS_COLUMNS
    from clickhouse_observability_spark.sources import mutations as MU

    _, if_exists, col, part = m.groups()
    if if_exists and col not in LOGS_COLUMNS \
            and t.schema_ext.get(col) is None:
        return 0  # CH: CLEAR COLUMN IF EXISTS no-ops silently
    return MU.clear_column(st.spark, t.path, col, int(part))["matched_rows"]


def _truncate(st, m, logs):
    from clickhouse_observability_spark.sources.mutations import (
        truncate_table,
    )

    return len(truncate_table(st.spark, logs.path)["dropped_months"])


def _modify_ttl(st, m, logs):
    # the reference's exact statement: arm the TTL the retention
    # job (apply_retention with no explicit days) enforces
    from clickhouse_observability_spark.sources.retention import (
        set_table_ttl,
    )

    set_table_ttl(logs.path, int(m.group(2)))
    return 0


def _ttl_group_by(st, m, logs):
    from clickhouse_observability_spark.sources.retention import (
        set_table_ttl,
    )

    _, days, group_sql, set_sql = m.groups()
    group_by = [
        " ".join(item).strip()
        for item in _split_top_commas(_tokenize(group_sql))
        if item
    ]
    set_exprs: dict[str, str] = {}
    if set_sql:
        for item in _split_top_commas(_tokenize(set_sql)):
            if not item:
                continue
            if len(item) < 3 or item[1] != "=":
                raise ChDialectError(
                    "TTL GROUP BY SET expects `col = agg(expr)` "
                    "assignments")
            set_exprs[item[0]] = " ".join(item[2:])
    set_table_ttl(logs.path, int(days), group_by=group_by,
                  set_exprs=set_exprs)
    return 0


def _ttl_clauses(st, m, logs):
    # comma-separated TTL expression: move rules (TO VOLUME /
    # TO DISK), conditional deletes (DELETE WHERE <pred>, any
    # number — CH allows one per predicate) + at most one
    # unconditional DELETE horizon. The single-clause DELETE and
    # GROUP BY forms matched above; GROUP BY inside a
    # multi-clause expression is refused. Clauses split on
    # TOP-LEVEL commas so predicates keep their IN lists /
    # function arguments.
    from clickhouse_observability_spark.sources.retention import (
        set_table_ttl,
    )

    delete_days: int | None = None
    tiers: list[dict] = []
    delete_where: list[dict] = []
    recompress: list[dict] = []
    for item in _split_top_commas(_tokenize(m.group(2))):
        clause = " ".join(item)
        mc = _TTL_CLAUSE_RE.match(clause)
        if mc is None:
            raise ChDialectError(
                f"MODIFY TTL: unsupported clause {clause.strip()!r} "
                "(supported: ts + INTERVAL n DAY "
                "[DELETE [WHERE <pred>] | TO VOLUME 'v' | "
                "TO DISK 'd' | RECOMPRESS CODEC(ZSTD(l)|LZ4)], "
                "comma-separated; GROUP BY only as a single "
                "clause)")
        days_s, is_delete, where, kind, vol, codec, lvl = mc.groups()
        if kind:
            tiers.append({"days": int(days_s), "volume": vol,
                          "kind": kind.upper()})
        elif where:
            delete_where.append({"days": int(days_s),
                                 "where": where.strip()})
        elif codec:
            recompress.append({
                "days": int(days_s), "codec": codec.upper(),
                "level": int(lvl) if lvl is not None else None})
        else:  # bare horizon or explicit DELETE
            if delete_days is not None:
                raise ChDialectError(
                    "MODIFY TTL: more than one DELETE horizon")
            delete_days = int(days_s)
    set_table_ttl(logs.path, delete_days, tiers=tiers,
                  delete_where=delete_where, recompress=recompress)
    return 0


def _remove_ttl(st, m, logs):
    from clickhouse_observability_spark.sources.retention import (
        set_table_ttl,
    )

    set_table_ttl(logs.path, None)
    return 0


def _materialize_ttl(st, m, logs):
    from clickhouse_observability_spark.sources.retention import (
        apply_retention,
        read_table_ttl_spec,
    )

    if read_table_ttl_spec(logs.path) is None:
        return 0  # nothing armed — CH no-ops too
    res = apply_retention(st.spark, logs.path)
    return (len(res.get("dropped_months") or [])
            + len(res.get("collapsed_months") or [])
            + sum(len(r["months"])
                  for r in res.get("delete_where") or [])
            + sum(len(v) for v in (res.get("column_ttl") or {})
                  .values())
            + sum(len(v) for v in (res.get("recompressed") or {})
                  .values())
            + sum(len(v) for v in (res.get("tiered") or {})
                  .values()))


# -- schema evolution: metadata-only column DDL ----------------------
def _add_column(st, m, logs):
    _, ine, name, tail = m.groups()
    ch_type, default, comment = _split_add_column_tail(tail)
    logs.schema_ext.add_column(name, ch_type, default=default,
                               if_not_exists=bool(ine), comment=comment)
    return 0


def _drop_column(st, m, logs):
    _, ie, name = m.groups()
    logs.schema_ext.drop_column(name, if_exists=bool(ie))
    return 0


def _rename_column(st, m, logs):
    _, old, new = m.groups()
    logs.schema_ext.rename_column(old, new)
    return 0


def _comment_column(st, m, logs):
    _, name, comment = m.groups()
    logs.schema_ext.comment_column(name, comment.replace("''", "'"))
    return 0


def _modify_column(st, m, logs):
    # MODIFY COLUMN: DEFAULT changes + COLUMN TTL (both
    # metadata-only in CH too); a TYPE change rewrites every part in
    # CH and is refused honestly
    from clickhouse_observability_spark.sources.retention import (
        set_column_ttl,
    )

    _, name, tail = m.groups()
    toks = _tokenize(tail)
    lows = [t.lower() for t in toks]
    mct = re.match(
        r"^\s*(?:\w+(?:\([^)]*\))?\s+)?TTL\s+ts\s*\+\s*"
        r"INTERVAL\s+(\d+)\s+DAY\s*$",
        tail, re.IGNORECASE)
    if lows[:2] == ["remove", "default"] and len(toks) == 2:
        logs.schema_ext.modify_default(name, None)
    elif lows[:2] == ["remove", "ttl"] and len(toks) == 2:
        set_column_ttl(logs.path, name, None)
    elif mct is not None:
        # CH COLUMN TTL: `MODIFY COLUMN msg [String] TTL
        # ts + INTERVAL n DAY` — aged values revert to
        # the type default on the next retention pass
        set_column_ttl(logs.path, name, int(mct.group(1)))
    elif lows and lows[0] == "default":
        logs.schema_ext.modify_default(name, _mutation_expr(toks[1:]))
    else:
        raise ChDialectError(
            "MODIFY COLUMN supports DEFAULT <expr> / "
            "REMOVE DEFAULT / TTL ts + INTERVAL n DAY / "
            "REMOVE TTL only; a type change rewrites "
            "every part in ClickHouse and is refused "
            "rather than silently cast on read (DROP + "
            "ADD under a new name is the explicit "
            "two-step)")
    return 0


def _mutate(st, m, logs):
    # CH mutations -> partition-scoped rewrite (sources/
    # mutations.py). Returns the matched-row count, the useful
    # analog of INSERT's inserted-row count (CH itself returns
    # nothing and mutates asynchronously; ours is synchronous).
    from clickhouse_observability_spark.schema import PARTITION_COLUMN
    from clickhouse_observability_spark.sources.mutations import (
        apply_mutation,
    )

    alter = m.re is _ALTER_MUT_RE
    op, rest = (m.group(2), m.group(3)) if alter else ("delete", m.group(2))
    # CH `... [IN PARTITION p] WHERE pred` scopes the mutation to
    # one partition: strip the clause (grammar places it directly
    # before WHERE) and AND the partition key into the predicate —
    # the pruned discovery scan then touches only that month.
    # Token-level, not regex-on-raw-text: the phrase inside a
    # string literal of the predicate must never match (a raw
    # re.search would rewrite the predicate of a DESTRUCTIVE
    # statement — r7 review finding).
    rest, in_part = _strip_in_partition(rest)
    assignments = None
    if op.lower() == "update":
        assignments, pred = _parse_update_tail(rest)
    elif alter:
        toks = _tokenize(rest)
        if not toks or toks[0].lower() != "where" or len(toks) == 1:
            raise ChDialectError(
                "ALTER TABLE ... DELETE requires a WHERE clause "
                "(ClickHouse refuses unguarded whole-table deletes)")
        pred = _mutation_expr(toks[1:])
    else:
        pred = _mutation_expr(_tokenize(rest))
    if in_part is not None:
        pred = f"({PARTITION_COLUMN} = {in_part}) AND ({pred})"
    # stale-matview surfacing and refresh live on apply_mutation
    # itself (the programmatic surface); through SQL the caller
    # gets the matched-row count, mirroring INSERT's contract
    res = apply_mutation(st.spark, logs.path, pred,
                         assignments=assignments, command=st.sql.strip())
    return res["matched_rows"]


def _explain(st, m):
    mode, inner = m.groups()
    mode = (mode or "").strip().lower()
    if mode == "estimate":
        if st.logs is None:
            raise ChDialectError(
                "EXPLAIN ESTIMATE reads the logs table's part "
                "metadata; pass logs=")
        return _explain_estimate(st.spark, st.logs, inner)
    if mode == "syntax":
        # CH EXPLAIN SYNTAX prints the rewritten query; the
        # analog here IS the dialect translation
        from clickhouse_observability_spark.session import local_df
        return local_df(st.spark, [(translate(inner),)],
                        "statement string")
    # AST: CH prints the parse tree; Spark's EXTENDED output opens
    # with the parsed (pre-analysis) logical plan. PIPELINE: CH
    # shows the physical processor graph; Spark's FORMATTED physical
    # plan (operators + codegen stage spans) is the same "what
    # actually executes" tier. PLAN/default: Spark's own plan frame.
    prefix = {"ast": "EXPLAIN EXTENDED ",
              "pipeline": "EXPLAIN FORMATTED "}.get(mode, "EXPLAIN ")
    return _spark_sql(st, inner, prefix)


def _logs_columns(logs, cols: list[str]) -> dict:
    """The evolved columns of `logs` by name; raises on any of
    `cols` that is neither a base nor an evolved column."""
    ext = {c["name"]: c for c in logs.schema_ext.columns}
    unknown = [c for c in cols if c not in _LOGS_DEFAULTS and c not in ext]
    if unknown:
        raise ChDialectError(f"unknown logs columns: {unknown}")
    return ext


def _insert_select(st, m, logs):
    _, col_list, select_sql = m.groups()
    cols = ([c.strip() for c in col_list.split(",")] if col_list
            else list(_LOGS_DEFAULTS))
    sel_ext = _logs_columns(logs, cols)
    src = _spark_sql(st, select_sql)
    if len(src.columns) != len(cols):
        raise ChDialectError(
            f"INSERT SELECT arity {len(src.columns)} != "
            f"{len(cols)} target columns")
    named = src.toDF(*cols)  # positional, CH INSERT SELECT rule
    exprs = []
    for c, default in _LOGS_DEFAULTS.items():
        e = F.col(c) if c in cols else F.expr(default)
        exprs.append(
            e.cast("timestamp" if c == "ts" else "string").alias(c))
    # evolved columns named in the INSERT ride along typed;
    # omitted ones serve their DEFAULT on read (CH semantics)
    for c in cols:
        if c in sel_ext:
            exprs.append(
                F.col(c).cast(sel_ext[c]["spark_type"]).alias(c))
    # materialize BEFORE the append: a self-referential backfill
    # (INSERT INTO logs SELECT ... FROM logs ...) would otherwise
    # scan the very files the write is appending to. The eager
    # localCheckpoint bounds that at one extra write of the
    # inserted rows and doubles as the cheap row count INSERT's
    # contract returns; a 100 TB backfill uses the programmatic
    # LogsTable.insert with its own staged source instead.
    batch = named.select(*exprs).localCheckpoint(eager=True)
    try:
        n = batch.count()
        # materialized=True: insert() must not checkpoint the
        # same rows a second time for its matview triggers —
        # this checkpoint already serves both purposes
        logs.insert(batch, materialized=True)
    finally:
        batch.unpersist()
    return n


def _insert_values(st, m, logs):
    _, col_list, values = m.groups()
    cols = [c.strip() for c in col_list.split(",")]
    ext_cols = _logs_columns(logs, cols)
    tuples, i = [], 0
    toks = _tokenize(values)
    while i < len(toks):
        if toks[i] == "(":
            args, i = _parse_args(toks, i)
            if len(args) != len(cols):
                raise ChDialectError(
                    f"VALUES tuple arity {len(args)} != columns {len(cols)}")
            tuples.append([_emit(a) for a in args])
        else:
            i += 1
    if not tuples:
        raise ChDialectError("INSERT with no VALUES tuples")
    # evolved columns named in the INSERT are written with the block
    # (cast to their declared type); omitted ones cost nothing and
    # serve their DEFAULT on read (CH's metadata-only semantics)
    given_ext = [c for c in cols if c in ext_cols]
    selects = []
    for tup in tuples:
        given = dict(zip(cols, tup))
        exprs = []
        for c, default in _LOGS_DEFAULTS.items():
            e = given.get(c, default)
            if c == "ts":
                e = f"CAST({e} AS TIMESTAMP)"
            exprs.append(f"{e} AS {c}")
        for c in given_ext:
            exprs.append(
                f"CAST({given[c]} AS {ext_cols[c]['spark_type']}) AS {c}")
        selects.append("SELECT " + ", ".join(exprs))
    logs.insert(st.spark.sql(" UNION ALL ".join(selects)))
    return len(tuples)


def _query(st):
    """Everything no statement regex claims: SELECT / DESCRIBE /
    plain Spark statements. ASOF JOIN and WITH FILL run through their
    operators, an aggregate a projection covers is served from its
    states, the rest runs as translated Spark SQL."""
    base = split_format_clause(st.sql)[0]
    asof = _extract_asof_join(base)
    if asof is not None:
        return _run_asof_join(st, asof)
    fill = _extract_with_fill(base)
    if fill is not None:
        return _run_with_fill(st, fill)
    routed = _route_projection(st)
    return routed if routed is not None else _spark_sql(st, st.sql)


# The statement table, in match order: the first regex that matches
# picks the handler. The middle field says what the dispatcher
# resolves and passes on: None = nothing; a string = group 1 must
# name the attached `logs` table (the string names the statement in
# the refusal); a tuple = the groups that name tables, resolved
# through `tables=` then `logs`.
_STATEMENTS = (
    (_ENGINE_DDL_RE, None, _create_table),
    (_OUTFILE_RE, None, _into_outfile),
    (_MV_CREATE_RE, None, _create_matview),
    (_DROP_VIEW_RE, None, _drop_view),
    (_UNDROP_TABLE_RE, None, _undrop_table),
    (_PROJ_ADD_RE, "projections", _add_projection),
    (_PROJ_DROP_RE, None, _drop_projection),
    (_PROJ_MAT_RE, None, _materialize_projection),
    (_OPTIMIZE_RE, "OPTIMIZE", _optimize),
    (_SHOW_TABLES_RE, None, _show_tables),
    (_CHECK_TABLE_RE, "CHECK TABLE", _check_table),
    (_SHOW_CREATE_RE, "SHOW CREATE", _show_create),
    (_FREEZE_RE, "FREEZE", _freeze),
    (_UNFREEZE_RE, None, _unfreeze),
    (_PART_OP_RE, (1,), _partition_op),
    (_MOVE_PART_VOL_RE, (1,), _move_to_volume),
    (_MOVE_PART_RE, (1, 3), _move_to_table),
    (_COPY_PART_RE, (1, 4), _copy_partition),
    (_RENAME_TABLE_RE, None, _rename_table),
    (_EXCHANGE_RE, None, _exchange_tables),
    (_MAT_COL_RE, (1,), _materialize_column),
    (_ADD_INDEX_RE, (1,), _add_index),
    (_DROP_INDEX_RE, (1,), _drop_index),
    (_MAT_INDEX_RE, (1,), _materialize_index),
    (_CLEAR_INDEX_RE, (1,), _clear_index),
    (_CLEAR_COL_RE, (1,), _clear_column),
    (_TRUNCATE_RE, "TRUNCATE", _truncate),
    (_TTL_RE, "MODIFY TTL", _modify_ttl),
    (_TTL_GROUP_RE, "MODIFY TTL", _ttl_group_by),
    (_TTL_MULTI_RE, "MODIFY TTL", _ttl_clauses),
    (_TTL_REMOVE_RE, "REMOVE TTL", _remove_ttl),
    (_TTL_MATERIALIZE_RE, "MATERIALIZE TTL", _materialize_ttl),
    (_ADD_COL_RE, "column DDL", _add_column),
    (_DROP_COL_RE, "column DDL", _drop_column),
    (_RENAME_COL_RE, "column DDL", _rename_column),
    (_COMMENT_COL_RE, "column DDL", _comment_column),
    (_MODIFY_COL_RE, "column DDL", _modify_column),
    (_ALTER_MUT_RE, "mutations", _mutate),
    (_LW_DELETE_RE, "mutations", _mutate),
    (_EXPLAIN_RE, None, _explain),
    (_INSERT_SELECT_RE, "INSERT", _insert_select),
    (_INSERT_RE, "INSERT", _insert_values),
)


def ch_sql(
    spark: SparkSession,
    sql: str,
    logs=None,
    views: dict[str, DataFrame] | None = None,
    query_log=None,
    tables: dict | None = None,
):
    """Execute one ClickHouse SQL statement.

    `logs`: a LogsTable — readable as `logs` in SELECT / DESCRIBE
    (index-pruned when a tokenbf/set/bloom index admits the
    statement), the write path for INSERT (returns the inserted-row
    count) and the target of the DDL statements. `views`: extra
    name -> DataFrame mappings. `query_log`: a QueryLog whose ring
    backs `system.query_log`. `tables`: extra name -> LogsTable
    mappings for the multi-table statements (MOVE/REPLACE/ATTACH
    PARTITION across tables, RENAME TABLE, EXCHANGE TABLES) —
    RENAME/EXCHANGE edit this dict IN PLACE, the analog of CH
    Atomic's metadata-only name mapping; mentioned entries are
    readable too.

    Every name the statement reads is bound for this statement only
    (_spark_sql): nothing is left in the session catalog, and
    concurrent calls on one session cannot see each other's `logs`.
    The statement is picked from _STATEMENTS; a ValueError from any
    step surfaces as ChDialectError.
    """
    st = _Stmt(spark, sql, logs, views, query_log, tables)
    try:
        for rex, target, handler in _STATEMENTS:
            m = rex.match(sql)
            if m is None:
                continue
            if isinstance(target, str):
                if m.group(1).lower() != "logs" or logs is None:
                    raise ChDialectError(
                        f"{target} supported for `logs` only")
                res = handler(st, m, logs)
            elif target:
                res = handler(st, m, *(_named_table(m.group(g), logs, tables)
                                       for g in target))
            else:
                res = handler(st, m)
            if res is not _DECLINE:
                return res
        return _query(st)
    except ChDialectError:
        raise
    except ValueError as e:
        raise ChDialectError(str(e)) from e
