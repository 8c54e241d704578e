"""Scorecard estimator design and expression budget.

The logistic/linear design is collected through Arrow and must refuse
null and NaN labels loudly, and must give exactly the coefficients a
row-by-row (C-order) build of the same design gives. Scoring renders
one SQL string per expression, so its py4j round trips stay a small
constant instead of growing with every literal.
"""

import numpy as np
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from optbinning_spark import BinningProcess
from optbinning_spark.operators import fastlit
from optbinning_spark.operators.transform import case_branches, case_column
from optbinning_spark.scorecard import Scorecard, _driver_logistic

NUM = [f"n{i}" for i in range(12)]
CAT = [f"c{i}" for i in range(4)]
SPECIALS = {"n0": [-1], "n3": [-999.0, -1], "c1": ["XNA"]}


@pytest.fixture(scope="module")
def wide(spark):
    rng = np.random.RandomState(11)
    n = 6000
    cols = {}
    logit = -2.0
    for i, v in enumerate(NUM):
        x = rng.normal(size=n) * (1 + i)
        logit = logit + (0.4 if i % 2 == 0 else -0.25) * x / (1 + i)
        x[rng.rand(n) < 0.03] = np.nan
        cols[v] = x
    cols["n0"][rng.rand(n) < 0.02] = -1.0
    cols["n3"][rng.rand(n) < 0.02] = -999.0
    for i, v in enumerate(CAT):
        k = rng.randint(0, 4 + 3 * i, size=n)
        logit = logit + 0.3 * (k % 3)
        cols[v] = np.array([f"lvl{j}'{v}" for j in k], dtype=object)
    cols["c1"][rng.rand(n) < 0.03] = "XNA"
    y = (rng.rand(n) < 1 / (1 + np.exp(-logit))).astype(int)
    rows = [tuple([i] + [None if isinstance(cols[v][i], float)
                         and np.isnan(cols[v][i]) else
                         (float(cols[v][i]) if v in NUM else cols[v][i])
                         for v in NUM + CAT] + [int(y[i])])
            for i in range(n)]
    schema = ", ".join(["id long"] + [f"{v} double" for v in NUM]
                       + [f"{v} string" for v in CAT] + ["y int"])
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def fitted(wide):
    bp = BinningProcess(NUM + CAT, categorical_variables=CAT,
                        special_codes=SPECIALS)
    sc = Scorecard(bp, estimator="logistic").fit(wide, "y")
    assert len(sc.selected_) >= 8
    return sc


class _Count:
    def __init__(self, monkeypatch):
        self.n = 0
        send = ClientServerConnection.send_command

        def counted(conn, *a, **kw):
            self.n += 1
            return send(conn, *a, **kw)

        monkeypatch.setattr(ClientServerConnection, "send_command", counted)

    def calls(self, fn):
        n0 = self.n
        out = fn()
        return out, self.n - n0


def test_expression_py4j_budget(fitted, wide, monkeypatch):
    """16 variables: score_expr is one parsed string and
    BinningProcess.transform one per variable plus the select. As
    Column-op chains they made 5,769 and 6,294 round trips on this
    fixture, and 77 string literals made 309 (the parser check ran
    getActiveSession for each)."""
    sc = fitted
    bp = sc.binning_process
    assert len(bp.variable_names) == 16
    count = _Count(monkeypatch)
    _, warm = count.calls(sc.score_expr)
    assert warm > 0  # the counter sees this connection's traffic
    _, n_score = count.calls(sc.score_expr)
    _, n_transform = count.calls(lambda: bp.transform(wide, keep_cols=["y"]))
    _, n_lits = count.calls(
        lambda: [fastlit.sql_str_lit(f"c{i}") for i in range(77)])
    assert n_score <= 10, n_score
    assert n_transform <= 120, n_transform
    assert n_lits == 0, n_lits


def test_score_matches_column_op_reference(fitted, wide):
    """score_expr (one SQL string) equals the Column-op sum it
    replaced, bit for bit, including missing and special rows."""
    sc = fitted
    bp = sc.binning_process
    ref = F.lit(sc.base_points_)
    for v in sc.selected_:
        b = bp.get_binned_variable(v)
        dtype = bp._dtypes[v]
        col = F.col(v).cast("double") if dtype == "numerical" else F.col(v)
        ref = ref + case_column(col, case_branches(
            dtype=dtype, splits=b._splits, bin_categories=b._bin_categories,
            special_codes=b.special_codes,
            clean_vals=[float(p) for p in sc.points_[v]], default=0.0,
            missing_value=0.0, special_value=lambda gi, g: 0.0), dtype)
    got = sc.score(wide).select("id", "score").collect()
    want = wide.select("id", ref.alias("score")).collect()
    assert sorted(map(repr, got)) == sorted(map(repr, want))
    proba = sc.predict_proba(wide).select("id", "proba").collect()
    lin = F.lit(sc.intercept_)
    for v in sc.selected_:
        b = bp.get_binned_variable(v)
        dtype = bp._dtypes[v]
        col = F.col(v).cast("double") if dtype == "numerical" else F.col(v)
        _, _, woes = sc._variable_bin_metric(v)
        lin = lin + case_column(col, case_branches(
            dtype=dtype, splits=b._splits, bin_categories=b._bin_categories,
            special_codes=b.special_codes,
            clean_vals=[float(sc.coef_[v] * w) for w in woes], default=0.0,
            missing_value=0.0, special_value=lambda gi, g: 0.0), dtype)
    want_p = wide.select(
        "id", (F.lit(1.0) / (F.lit(1.0) + F.exp(-lin))).alias("proba")
    ).collect()
    assert sorted(map(repr, proba)) == sorted(map(repr, want_p))


def test_logistic_design_matches_row_build(fitted, wide):
    """The Arrow-collected design gives exactly the coefficients of
    _driver_logistic on the same design built row by row from
    collect() (a C-order X); a column-major X would move them at the
    last ulps."""
    sc = fitted
    sel = list(sc.selected_)
    rows = (sc.binning_process.transform(wide, keep_cols=["y"])
            .groupBy(*sel, "y").agg(F.sum(F.lit(1.0)).alias("__w"))
            .orderBy(*sel, "y").collect())
    X = np.array([[float(r[v]) for v in sel] for r in rows])
    yy = np.array([float(r["y"]) for r in rows])
    ww = np.array([float(r["__w"]) for r in rows])
    coefs, intercept = _driver_logistic(X, yy, ww)
    assert [float(c) for c in coefs] == [float(sc.coef_[v]) for v in sel]
    assert float(intercept) == sc.intercept_


@pytest.mark.parametrize("bad", ["null", "nan"])
def test_logistic_refuses_missing_label(spark, bad):
    rng = np.random.RandomState(3)
    rows = [(float(rng.uniform(0, 10)), float(rng.rand() < 0.3))
            for _ in range(1500)]
    clean = spark.createDataFrame(rows, "x double, y double")
    bp = BinningProcess(["x"]).fit(clean, "y")
    poisoned = clean.unionByName(spark.createDataFrame(
        [(5.0, None if bad == "null" else float("nan"))],
        "x double, y double"))
    with pytest.raises(ValueError, match="null or non-finite"):
        Scorecard(bp, estimator="logistic").fit(poisoned, "y")
