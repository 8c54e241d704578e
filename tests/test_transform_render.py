"""The two transform emitters agree.

``transform_expr`` renders a variable's CASE as one parsed SQL string
when it gets a column name, and as a Column-op chain when it gets a
Column. Both come from one branch list (``case_branches``), so they
must give the same schema, the same analyzed plan and bit-equal values
on every metric, special-code shape, missing/special policy, category
text and column-name shape.
"""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from optbinning_spark import ContinuousOptimalBinning, OptimalBinning
from optbinning_spark.operators import fastlit

CATS = ["o'neil", "back\\slash", "ñandú", "plain", "日本", "tab\tx"]


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.RandomState(5)
    rows = []
    for i in range(3000):
        u = rng.rand()
        x = float(np.round(rng.uniform(0, 100), 2))
        if u < 0.03:
            x = None
        elif u < 0.06:
            x = float("nan")
        elif u < 0.09:
            x = -1.0  # matches the int special code -1
        elif u < 0.11:
            x = -999.5
        ci = i % (len(CATS) + 1)
        c = CATS[ci] if ci < len(CATS) else ("N/A" if i % 2 else None)
        p = 0.1 + 0.5 * ((x or 0.0) > 40) + 0.05 * (ci % 3)
        y = int(rng.rand() < min(p, 0.9))
        t = (x if x is not None and x == x else 0.0) * 0.3 + rng.normal()
        rows.append((i, x, c, 1.0, y, float(t)))
    return spark.createDataFrame(
        rows, "id long, x double, c string, z double, y int, t double")


@pytest.fixture(scope="module")
def binners(data):
    num_list = OptimalBinning(special_codes=[-1, -999.5]).fit(data, "x", "y")
    num_dict = OptimalBinning(
        special_codes={"neg": [-1], "big": [-999.5]}).fit(data, "x", "y")
    cat = OptimalBinning(dtype="categorical",
                         special_codes=["N/A", -1]).fit(data, "c", "y")
    cont = ContinuousOptimalBinning(special_codes=[-1]).fit(data, "x", "t")
    const = OptimalBinning().fit(data, "z", "y")
    assert len(num_list._splits) >= 2 and len(const._splits) == 0
    assert len(cat._bin_categories) >= 2
    return {"num_list": num_list, "num_dict": num_dict, "cat": cat,
            "cont": cont, "const": const}


def _specs():
    out = []
    policies = [("emp", "empirical", "empirical"), ("int", 7, -3),
                ("zero", 0, 0)]
    for bname in ("num_list", "num_dict", "cat"):
        col = "c" if bname == "cat" else "x"
        for metric in ("woe", "event_rate", "indices", "bins"):
            for ptag, ms, mm in policies:
                out.append((f"{bname}_{metric}_{ptag}", bname, col,
                            dict(metric=metric, metric_special=ms,
                                 metric_missing=mm)))
    for ptag, ms, mm in policies:
        out.append((f"cont_mean_{ptag}", "cont", "x",
                    dict(metric="mean", metric_special=ms,
                         metric_missing=mm)))
    for metric in ("woe", "indices"):
        out.append((f"const_{metric}", "const", "z", dict(metric=metric)))
    # the numeric process path: the input cast inside the expression
    out.append(("num_cast_woe", "num_list", "x",
                dict(metric="woe", cast="double")))
    # a dotted name resolves as a struct field, a spaced name as one
    # identifier, on both routes
    out.append(("dotted_woe", "num_dict", "s.x", dict(metric="woe")))
    out.append(("spaced_bins", "num_dict", "x col", dict(metric="bins")))
    out.append(("spaced_cast", "num_list", "x col",
                dict(metric="event_rate", cast="double")))
    return out


def _plan(df):
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().analyzed()
                  .toString())


def test_sql_and_column_emitters_agree(spark, data, binners):
    unseen = spark.createDataFrame(
        [(10 ** 6, 5.0, "never seen", 1.0, 0, 0.0)], data.schema)
    df = (data.unionByName(unseen)
          .withColumn("s", F.struct(F.col("x").alias("x")))
          .withColumn("x col", F.col("x")))
    specs = _specs()
    sql_cols = [binners[b].transform_column_expr(name, alias=label, **kw)
                for label, b, name, kw in specs]
    col_cols = [binners[b].transform_column_expr(F.col(name), alias=label,
                                                 **kw)
                for label, b, name, kw in specs]
    a = df.select("id", *sql_cols)
    c = df.select("id", *col_cols)
    assert a.schema == c.schema
    assert _plan(a) == _plan(c)
    ra = {r["id"]: r for r in a.collect()}
    rc = {r["id"]: r for r in c.collect()}
    assert ra.keys() == rc.keys()
    for label, *_ in specs:
        got = [repr(ra[i][label]) for i in sorted(ra)]
        want = [repr(rc[i][label]) for i in sorted(rc)]
        assert got == want, label
    # the fixture reaches every branch kind: missing, special and
    # unknown rows all occur
    bins = {ra[i]["cat_bins_int"] for i in ra}
    assert {"Missing", "Special", "unknown"} <= bins
    assert {ra[i]["num_dict_bins_emp"] for i in ra} >= {"neg", "big"}


def test_string_literals_refuse_escaped_string_literals(spark, monkeypatch):
    """With spark.sql.parser.escapedStringLiterals=true the rendered
    backslash escapes would parse as literal characters; rendering a
    string literal must refuse instead."""
    monkeypatch.setattr(fastlit, "_parser_checked_sessions",
                        type(fastlit._parser_checked_sessions)())
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        with pytest.raises(RuntimeError, match="escapedStringLiterals"):
            fastlit.sql_str_lit("a\\b")
    finally:
        spark.conf.unset(key)
    assert fastlit.sql_str_lit("a\\b") == "'a\\\\b'"


def test_sql_ident_quotes_like_f_col():
    assert fastlit.sql_ident("x") == "`x`"
    assert fastlit.sql_ident("meta.text") == "`meta`.`text`"
    assert fastlit.sql_ident("a b") == "`a b`"
    assert fastlit.sql_ident("we`ird") == "`we``ird`"


def test_sql_lit_types_match_f_lit(spark):
    vals = [0, -1, 2 ** 31 - 1, -2 ** 31, 2 ** 31, -2 ** 40, 1.5, -0.0,
            1e-300, float("inf"), True, "it's", np.float64(0.1),
            np.int64(3)]
    a = spark.range(1).select(*[
        F.expr(fastlit.sql_lit(v)).alias(f"c{i}")
        for i, v in enumerate(vals)])
    b = spark.range(1).select(*[
        F.lit(v.item() if isinstance(v, np.generic) else v).alias(f"c{i}")
        for i, v in enumerate(vals)])
    assert [f.dataType for f in a.schema] == [f.dataType for f in b.schema]
    assert repr(a.first()) == repr(b.first())
