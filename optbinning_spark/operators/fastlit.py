"""Fast array<double> literals.

``F.lit(python_list)`` builds the Literal through one py4j round trip
PER ELEMENT (classic mode lowers a list to ``array(lit(x), ...)``), so
the driver-side cost of shipping a bounded lookup table into an
expression is ~0.45 ms x n elements: measured 1.86 s for the 4,096-
bucket DSIR/NB ratio tables — more than the whole cluster-side job it
parameterizes (r17 profiling; the py4j socket latency is the unit
cost, not serialization volume).

``double_array_lit`` renders the same values as ONE SQL ``array(...)``
expression string and parses it in a single ``F.expr`` call: 0.01 s at
4,096 elements, value-identical columns. Identity argument: Python
``repr`` of a float round-trips (shortest repr), and Spark's ``...D``
double literal parses with Java ``Double.parseDouble`` (correctly
rounded), so every element maps back to the exact same IEEE double the
list held. NaN/±Infinity render as explicit CASTs (no double-literal
grammar for them); nested lists recurse into nested arrays.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column
from pyspark.sql import functions as F

_INF = float("inf")


def _fmt_scalar(v) -> str:
    v = float(v)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == _INF:
        return "CAST('Infinity' AS DOUBLE)"
    if v == -_INF:
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(v) + "D"


def _render(values) -> str:
    if isinstance(values, (list, tuple)) or (
        hasattr(values, "tolist") and hasattr(values, "__len__")
    ):
        items = list(values)
        if not items:
            # array() alone types as array<null>; pin the element type
            return "CAST(array() AS ARRAY<DOUBLE>)"
        return "array(" + ",".join(_render(x) for x in items) + ")"
    return _fmt_scalar(values)


def double_array_lit(values) -> Column:
    """One-call ``array<double>`` (or nested array) literal Column for
    a Python/numpy sequence of floats. Use for any bounded lookup
    table shipped into an expression (DSIR ratio tables, NB LLR
    weights, centroid/codebook matrices, percentile grids)."""
    return F.expr(_render(values))


_parser_checked_sessions: "weakref.WeakSet" = weakref.WeakSet()


def _assert_default_string_parser() -> None:
    """The rendered string literals below rely on the DEFAULT
    ``spark.sql.parser.escapedStringLiterals=false``: with the
    Hive-compat setting true, ``\\uXXXX`` escapes and doubled
    backslashes parse as literal characters and silently produce wrong
    tokenization/shingles/vocab maps. Fail loudly instead — checked
    once per session. The session is looked up through pyspark's
    Python-side active-session handle, so every call after the first
    costs no py4j round trip (``getActiveSession()`` alone costs
    four)."""
    from pyspark.sql import SparkSession

    s = SparkSession._activeSession
    if s is None:
        try:
            s = SparkSession.getActiveSession()
        except Exception:
            return
        if s is None:
            return
    if s in _parser_checked_sessions:
        return
    if str(s.conf.get("spark.sql.parser.escapedStringLiterals",
                      "false")).lower() == "true":
        raise RuntimeError(
            "spark.sql.parser.escapedStringLiterals=true is "
            "incompatible with optbinning_spark's rendered SQL string "
            "literals (backslash/\\uXXXX escapes would parse as "
            "literal characters and silently corrupt tokenization); "
            "unset the conf or use the Column-op paths")
    _parser_checked_sessions.add(s)


def sql_str_lit(s: str) -> str:
    """Spark-SQL single-quoted string literal (backslash escaping —
    the default non-escapedStringLiterals parser, asserted above;
    control characters render as unicode escapes so the rendered SQL
    is one printable line). The ONE escaping implementation — bpe.py
    and every other SQL-string builder import it from here."""
    _assert_default_string_parser()
    out = []
    for ch in s:
        if ch == "\\":
            out.append("\\\\")
        elif ch == "'":
            out.append("\\'")
        elif ord(ch) < 32 or ord(ch) == 127:
            out.append(f"\\u{ord(ch):04X}")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def py_scalar(v):
    """A numpy scalar as its Python value (what py4j hands the JVM for
    it); anything else unchanged."""
    return v.item() if hasattr(v, "item") and not isinstance(v, str) else v


def sql_lit(v) -> str:
    """SQL text of a scalar literal, typed exactly as ``F.lit(v)`` types
    it: bool -> BOOLEAN; int -> INT, or BIGINT past 32 bits (the parser
    and py4j share that boundary); float -> DOUBLE (shortest ``repr``
    plus the ``D`` suffix, NaN/+-Inf as CASTs, see ``_fmt_scalar``);
    str -> STRING; None -> NULL. numpy scalars render as their Python
    value."""
    v = py_scalar(v)
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _fmt_scalar(v)
    if isinstance(v, str):
        return sql_str_lit(v)
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def sql_ident(name: str) -> str:
    """Backtick-quoted SQL reference to column ``name``, resolved the
    way ``F.col(name)`` resolves it: dotted names quote each path
    segment, so 'meta.text' stays the qualified/nested reference it is
    on the Column path rather than one literal identifier."""
    return ".".join(
        "`" + part.replace("`", "``") + "`" for part in name.split("."))


# backwards-compatible internal alias (pre-r18 name)
_fmt_str = sql_str_lit


def str_int_map_sql(mapping: dict) -> str:
    """The SQL ``map(...)`` rendering behind ``str_int_map_lit`` —
    exposed so builders composing a larger single-round-trip
    expression string can inline it."""
    if not mapping:
        return "CAST(map() AS MAP<STRING,INT>)"
    parts = []
    for k, v in mapping.items():
        parts.append(_fmt_str(str(k)))
        parts.append(str(int(v)))
    return "map(" + ",".join(parts) + ")"


def str_int_map_lit(mapping: dict) -> Column:
    """One-call ``map<string,int>`` literal Column for a bounded
    Python dict (a pinned BPE vocab, a category code table). Same
    rationale as ``double_array_lit``: ``F.create_map(*lits)`` costs
    one py4j round trip per key AND per value (~0.45 ms each), so a
    130-symbol vocab burns ~0.12 s of pure driver socket latency per
    query construction; rendering the same pairs as ONE parsed
    ``map(...)`` expression is a single round trip at any size.
    Insertion order is preserved (matters only for duplicate keys,
    which a dict cannot hold)."""
    return F.expr(str_int_map_sql(mapping))
