"""Transform expressions: bin -> metric value as pure column exprs.

Reference: optbinning/binning/transformations.py:230-316 (binary woe /
event_rate / indices / bins), 388-452 (continuous mean), plus
special/missing policies and unknown-category defaults
(binning.py:385-396).

Spark design: the fitted bin-value mapping is tiny (<= ~25 entries), so
the transform is a <=25-branch CASE WHEN chain — whole-stage-codegen'd,
map-only, no shuffle, no UDF. Semantically it is a broadcast join
against the binning table; emitting it as an expression keeps the scan
pipeline narrow and lets Catalyst push surrounding filters through.

One branch list, two emitters. ``case_branches`` resolves a variable's
CASE once: the missing test, one IN per special group, one IN per
category bin or one ``<`` per split, then the ELSE value. ``case_sql``
renders it as SQL text that one ``F.expr`` parses — one py4j round
trip per variable. ``case_column`` builds the same tree with Column
ops, which costs round trips per predicate and per literal: on the
16-variable fixture of tests/test_scorecard_render.py,
BinningProcess.transform makes 6,294 round trips that way and 83
through the SQL route. Both give the same analyzed plan: literals
are typed exactly as ``F.lit`` types them (``fastlit.sql_lit``) and
column references resolve as ``F.col`` resolves them
(``fastlit.sql_ident``). Callers that know the column NAME pass a str
and get the SQL route; a Column input keeps the Column-op route,
because a Column's SQL text does not parse back into the same
expression in general (``CAST(a b AS DOUBLE)``, ``*(x, 2)``). The one
known difference: a NaN/±Inf THEN value parses as a CAST, which makes
the SQL column nullable; every metric a binning table produces is
finite.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .fastlit import py_scalar, sql_ident, sql_lit
from .preprocessing import (
    _typed_specials,
    missing_predicate,
    normalize_special_codes,
)


def _value_for(metric, table, kind, group=None):
    """Resolve the output value for special/missing rows: a fixed
    number or 'empirical' (use the bin's own statistic)."""
    idx = None
    for i, (k, lbl) in enumerate(zip(table.kinds, table.labels)):
        if k == kind and (group is None or lbl.endswith(group) or lbl == "Special"):
            idx = i
            break
    if idx is None:
        return 0.0
    if metric == "woe":
        return float(table.woe[idx])
    if metric == "event_rate":
        return float(table.event_rate[idx])
    if metric == "mean":
        return float(table.mean[idx])
    return 0.0


def case_branches(*, dtype, splits, bin_categories, special_codes,
                  clean_vals, default, missing_value, special_value):
    """The CASE of one variable as ``(op, operand, value)`` branches, in
    evaluation order: ``("missing", None, v)``, ``("in", values, v)``
    per special group with codes of the column's type and per category
    bin, ``("lt", split, v)`` per split, then ``("else", None, v)``.
    ``special_value(group_index, group_name)`` gives a special group's
    value; ``default`` is the unknown-category value (and the value of
    a split-less numeric variable without clean bins)."""
    out = [("missing", None, missing_value)]
    for gi, (gname, values) in enumerate(
            normalize_special_codes(special_codes).items()):
        # only codes of the column's type can match (a numeric code
        # against a string column is a CAST_INVALID_INPUT under ANSI)
        values = _typed_specials(values, dtype)
        if values:
            out.append(("in", values, special_value(gi, gname)))
    if dtype == "categorical":
        for b, cats in enumerate(bin_categories or []):
            if len(cats):  # an empty IN never matches
                out.append(("in", list(cats), clean_vals[b]))
        out.append(("else", None, default))
        return out
    splits = list(splits if splits is not None else [])
    for i, s in enumerate(splits):
        out.append(("lt", float(s), clean_vals[i]))
    if splits:
        out.append(("else", None, clean_vals[len(splits)]))
    else:
        out.append(("else", None, clean_vals[0] if clean_vals else default))
    return out


def case_column(col: Column, branches, dtype: str) -> Column:
    """Column-op emitter of ``case_branches`` output."""
    expr = None
    for op, arg, val in branches:
        lit = F.lit(py_scalar(val))
        if op == "else":
            return expr.otherwise(lit)
        if op == "missing":
            cond = missing_predicate(col, dtype)
        elif op == "in":
            cond = col.isin([py_scalar(a) for a in arg])
        else:
            cond = col < arg
        expr = F.when(cond, lit) if expr is None else expr.when(cond, lit)
    raise ValueError("CASE branches must end with an else branch")


def case_sql(col_sql: str, branches, dtype: str) -> str:
    """SQL emitter of ``case_branches`` output; ``col_sql`` is the SQL
    text of the input column (``column_sql``)."""
    parts = []
    for op, arg, val in branches:
        lit = sql_lit(val)
        if op == "else":
            parts.append(f"ELSE {lit}")
            continue
        if op == "missing":
            cond = (f"{col_sql} IS NULL" if dtype == "categorical" else
                    f"({col_sql} IS NULL OR isnan({col_sql}))")
        elif op == "in":
            cond = f"{col_sql} IN ({', '.join(sql_lit(a) for a in arg)})"
        else:
            cond = f"{col_sql} < {sql_lit(arg)}"
        parts.append(f"WHEN {cond} THEN {lit}")
    return "CASE " + " ".join(parts) + " END"


def column_sql(name: str, cast: str | None = None) -> str:
    """SQL text of ``F.col(name)``, or of ``F.col(name).cast(cast)``."""
    ref = sql_ident(name)
    return f"CAST({ref} AS {cast.upper()})" if cast else ref


def alias_sql(sql: str, alias: str | None) -> str:
    """``sql AS `alias```: the alias inside the parsed text costs no
    round trip, where ``Column.alias`` costs several."""
    if alias is None:
        return sql
    return f"{sql} AS `{alias.replace('`', '``')}`"


def transform_expr(
    col,
    *,
    dtype: str = "numerical",
    splits=None,
    bin_categories=None,
    table=None,
    metric: str = "woe",
    metric_special=0,
    metric_missing=0,
    special_codes=None,
    show_digits: int = 2,
    cast: str | None = None,
    alias: str | None = None,
) -> Column:
    """Build the full transform expression for one variable.

    col: a Column (Column-op route) or a column NAME (str: the whole
    CASE is one parsed SQL string). ``cast`` casts the input first
    (``"double"`` for numeric process variables); ``alias`` names the
    result.
    metric: woe | event_rate | indices | bins | mean
    metric_special / metric_missing: number or "empirical".
    """
    n_clean = _n_clean(table)
    if metric == "woe":
        clean_vals = [float(v) for v in table.woe[:n_clean]]
        default = 0.0
    elif metric == "event_rate":
        clean_vals = [float(v) for v in table.event_rate[:n_clean]]
        default = 0.0
    elif metric == "mean":
        clean_vals = [float(v) for v in table.mean[:n_clean]]
        default = 0.0
    elif metric == "indices":
        clean_vals = list(range(n_clean))
        default = -1
    elif metric == "bins":
        clean_vals = list(table.labels[:n_clean])
        default = "unknown"
    else:
        raise ValueError(f"unknown metric {metric}")

    # special/missing row resolution (reference transformations.py:
    # 152-226): metric='bins' always emits the label (group name for
    # dict special codes, else 'Special'/'Missing'); metric='indices'
    # emits the special/missing bin index unless the policy is a
    # literal int; otherwise a number or the bin's own 'empirical'
    # statistic.
    n_special = max(len(normalize_special_codes(special_codes)), 1)
    special_is_dict = isinstance(special_codes, dict)

    def resolve(policy, kind, group=None, group_idx=0):
        if metric == "bins":
            if kind == "special":
                return group if special_is_dict else "Special"
            return "Missing"
        if metric == "indices":
            if isinstance(policy, int) and policy is not True:
                return policy
            if kind == "special":
                return n_clean + group_idx
            return n_clean + n_special
        if policy == "empirical":
            return _value_for(metric, table, kind, group)
        return policy

    branches = case_branches(
        dtype=dtype, splits=splits, bin_categories=bin_categories,
        special_codes=special_codes, clean_vals=clean_vals,
        default=default,
        missing_value=resolve(metric_missing, "missing"),
        special_value=lambda gi, g: resolve(
            metric_special, "special", g, gi),
    )
    if isinstance(col, str):
        return F.expr(alias_sql(
            case_sql(column_sql(col, cast), branches, dtype), alias))
    if cast:
        col = col.cast(cast)
    expr = case_column(col, branches, dtype)
    return expr.alias(alias) if alias is not None else expr


def _n_clean(table) -> int:
    return int(sum(1 for k in table.kinds if k == "clean"))
