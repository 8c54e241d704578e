"""Scorecard — binning + linear estimator + point scaling.

Reference: optbinning/scorecard/scorecard.py (pipeline), rounding.py
(MIP point rounding), plus monitoring in monitoring.py.

Spark design:
- binning_process.fit_transform produces the WoE matrix in one
  map-only projection;
- the estimator runs on the driver: the WoE design is compressed to
  one weighted row per distinct (X, label), collected through Arrow
  and solved by IRLS (logistic) or weighted least squares (linear);
  huber and custom estimators fit a bounded hashed sample. MLlib
  LogisticRegression / LinearRegression run only when regParam > 0
  or the compressed design exceeds max_driver_rows. Coefficients are
  what scorecard points need (X1 pluggable-estimator surface);
- scoring is a PURE COLUMN EXPRESSION: score(x) = base + sum of
  per-variable CASE(bin -> points), rendered as one SQL string and
  parsed once (operators/transform.py). No vector assembly, no model
  object at inference time — a scorecard scored over 100 TB is a
  map-only scan, and predict_proba is the closed-form sigmoid of the
  same linear expression.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .binning_process import BinningProcess
from .operators.fastlit import sql_lit
from .operators.transform import alias_sql, case_branches, case_sql, column_sql

_EPS = 1e-15


def _round_points_minmax(points: dict) -> dict:
    """Reference-parity point rounding (rounding.py:13-110) WITHOUT an
    integer program. The reference MIP minimizes the L1 rounding error
    subject to Sum_i lb_i == rint(Sum_i min_j x_ij) and
    Sum_i ub_i == rint(Sum_i max_j x_ij), where lb_i/ub_i are free
    integers bounding variable i's rounded points below/above. Free
    bounds make the equalities equivalent to
        Sum_i min_j p_ij >= MinPoint  and  Sum_i max_j p_ij <= MaxPoint,
    i.e. the minimum and maximum achievable TOTAL scores are preserved.
    Clamping a point into [t_i, u_i] can only move it in one direction,
    so the objective splits into independent convex per-variable costs
    F_i(t) (raise low points to t) and G_i(u) (cap high points at u),
    and each side is a separable convex allocation solved exactly by
    the cheapest-marginal-move greedy below."""
    names = list(points)
    raw = {v: np.asarray(points[v], dtype=float) for v in names}
    min_point = float(np.rint(sum(r.min() for r in raw.values())))
    max_point = float(np.rint(sum(r.max() for r in raw.values())))
    p = {v: np.rint(raw[v]) for v in names}

    def l1(v, q):
        return float(np.abs(q - raw[v]).sum())

    # Greedy cheapest-marginal unit moves; exact for separable convex
    # costs (each clamp step's marginal is non-decreasing). The number
    # of steps is bounded by the rint slack, <= n_variables / 2 each
    # side; the 10k guard is a safety net only.
    for _ in range(10_000):  # raise minima until Sum min >= MinPoint
        if sum(q.min() for q in p.values()) >= min_point:
            break
        best = None
        for v in names:
            q = np.maximum(p[v], p[v].min() + 1)
            # r14 pinned compare: 9dp so an exact L1-marginal tie
            # keeps the EARLIER variable on both engines (the oracle
            # compares round(dc, 9) with the same earlier-wins CASE)
            dc = round(l1(v, q) - l1(v, p[v]), 9)
            if best is None or dc < best[0]:
                best = (dc, v, q)
        p[best[1]] = best[2]
    for _ in range(10_000):  # lower maxima until Sum max <= MaxPoint
        if sum(q.max() for q in p.values()) <= max_point:
            break
        best = None
        for v in names:
            if p[v].max() - 1 < p[v].min():
                continue  # flat variable: lowering would break Sum min
            q = np.minimum(p[v], p[v].max() - 1)
            dc = round(l1(v, q) - l1(v, p[v]), 9)
            if best is None or dc < best[0]:
                best = (dc, v, q)
        if best is None:  # degenerate: every variable flat
            break
        p[best[1]] = best[2]
    if (sum(q.min() for q in p.values()) < min_point
            or sum(q.max() for q in p.values()) > max_point):
        # Allocation infeasible (degenerate flat variables): mirror the
        # reference's back-up — plain nearest-integer rounding
        # (scorecard.py:696-701 falls back to np.rint when the MIP is
        # not OPTIMAL/FEASIBLE).
        return {v: np.rint(raw[v]) for v in names}
    return p


def _driver_wls(X, y, w):
    """Weighted least squares via CENTERED normal equations. Centering
    is an algebraic identity for the solution, but numerically
    essential here: the WoE/mean features are near-collinear with the
    intercept (large mean, small spread), so the uncentered Gram has
    cond ~ (mean/std)^2 and the solve loses ~8 digits — enough to make
    scores nondeterministic at rounding precision across collect
    orders. Centered, the system is O(1)-conditioned."""
    X = np.asarray(X, dtype=float)
    wsum = w.sum()
    xbar = (X * w[:, None]).sum(axis=0) / wsum
    ybar = float((y * w).sum() / wsum)
    Xc = X - xbar
    yc = y - ybar
    Xw = Xc * w[:, None]
    beta = np.linalg.solve(
        Xc.T @ Xw + 1e-12 * np.eye(X.shape[1]), Xw.T @ yc
    )
    intercept = ybar - float(xbar @ beta)
    return list(beta), intercept


def _driver_huber(X, y, w, epsilon=1.35, max_iter=100, tol=1e-9):
    """Huber-loss linear regression by IRLS with a robust (normalized
    MAD) concomitant scale — the HuberRegressor-equivalent estimator
    (reference scorecard.py:37-39 accepts any sklearn regressor;
    README's continuous example uses HuberRegressor(epsilon=1.35))."""
    A = np.hstack([X, np.ones((len(X), 1))])
    Aw = A * w[:, None]
    beta = np.linalg.solve(
        A.T @ Aw + 1e-12 * np.eye(A.shape[1]), Aw.T @ y
    )  # WLS start
    for _ in range(max_iter):
        r = y - A @ beta
        sigma = max(1.4826 * np.median(np.abs(r - np.median(r))), 1e-12)
        wi = w * np.minimum(1.0, epsilon * sigma / np.maximum(np.abs(r), 1e-12))
        Awi = A * wi[:, None]
        new = np.linalg.solve(
            A.T @ Awi + 1e-12 * np.eye(A.shape[1]), Awi.T @ y
        )
        if np.max(np.abs(new - beta)) < tol * (1.0 + np.max(np.abs(beta))):
            beta = new
            break
        beta = new
    return list(beta[:-1]), float(beta[-1])


def _driver_logistic(X, y, w, max_iter=100, tol=1e-10):
    """Weighted logistic regression by IRLS (Newton) — exact MLE on
    the compressed (X, label, weight) design."""
    A = np.hstack([X, np.ones((len(X), 1))])
    beta = np.zeros(A.shape[1])
    for _ in range(max_iter):
        z = A @ beta
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
        g = A.T @ (w * (y - p))
        W = w * p * (1.0 - p)
        H = A.T @ (A * W[:, None]) + 1e-10 * np.eye(A.shape[1])
        step = np.linalg.solve(H, g)
        beta = beta + step
        if np.max(np.abs(step)) < tol:
            break
    return list(beta[:-1]), float(beta[-1])


def _bp_row_count_hint(bp) -> int | None:
    """Total fitted row count from an already-fitted BinningProcess's
    first binning table (clean + special + missing bins sum to every
    non-null-target row of the fit input) — a free driver-side read
    that replaces the huber/custom sample prefilter's dedicated
    count() action. Returns None when no unweighted integral count is
    available (class-weighted binner, empty process): the caller then
    falls back to counting."""
    try:
        for v, b in bp._binners.items():
            if getattr(b, "class_weight", None) is not None:
                return None
            t = getattr(b, "_table", None)
            cnt = getattr(t, "count", None)
            if cnt is None:
                continue
            total = float(np.asarray(cnt, dtype=float).sum())
            if total > 0 and abs(total - round(total)) < 1e-6:
                return int(round(total))
        return None
    except Exception:
        return None


class Scorecard:
    def __init__(
        self,
        binning_process: BinningProcess,
        estimator: str = "auto",
        scaling_method: str | None = None,
        scaling_method_params: dict | None = None,
        intercept_based: bool = False,
        rounding: bool = False,
        estimator_params: dict | None = None,
    ):
        self.binning_process = binning_process
        self.estimator = estimator
        self.scaling_method = scaling_method
        self.scaling_method_params = scaling_method_params or {}
        self.intercept_based = intercept_based
        self.rounding = rounding
        self.estimator_params = estimator_params or {}
        self._fitted = False

    # ------------------------------------------------------------------
    def fit(self, df: DataFrame, y: str, sample_weight: str | None = None):
        bp = self.binning_process
        # Row-count hint for the robust-sample prefilter (r18): when
        # THIS call runs the binning pass on the SAME df, the fitted
        # binning tables already carry the total record count
        # (clean + special + missing bins sum to every non-null-y row)
        # — reusing it saves the prefilter's dedicated count() full
        # pass. Weighted fits keep the hint off (table counts are
        # weighted sums, not row counts). The hint only sizes the
        # filter threshold: a small hint keeps more rows (still exact),
        # a large one trips the short-result fallback — exactness never
        # depends on it.
        self._n_rows_hint = None
        if not bp._fitted:
            bp.fit(df, y, sample_weight)
            if sample_weight is None:
                self._n_rows_hint = _bp_row_count_hint(bp)
        self._target_type = bp._target_type
        if self._target_type == "multiclass":
            raise ValueError("Scorecard supports binary or continuous targets")

        woe = bp.transform(df, keep_cols=[y] + ([sample_weight] if sample_weight else []))
        self.selected_ = bp.support_

        coefs, intercept = self._fit_estimator(woe, y, sample_weight)
        self.coef_ = dict(zip(self.selected_, coefs))
        self.intercept_ = float(intercept)

        self._build_points()
        self._fitted = True
        return self

    def _fit_estimator(self, woe: DataFrame, y: str, w: str | None):
        from pyspark.ml.feature import VectorAssembler

        # Sufficient-statistics compression: every feature is binned,
        # so the WoE matrix has at most prod(n_bins) distinct rows.
        # Group identical (X, label) rows into one weighted row — the
        # weighted likelihood (logistic) / normal equations (linear)
        # are unchanged. How much this saves depends on the width: a
        # few variables compress to a few hundred rows, but at 16
        # variables prod(n_bins) dwarfs the row count and the design
        # keeps most of the input (56,756 of 61,502 rows on a month of
        # perfbench's Home-Credit-shaped credit_scorecard table). At
        # 100 TB the one shuffle still replaces MLlib's ~25
        # per-iteration full scans.
        kind0 = self.estimator
        if kind0 == "auto":
            kind0 = "logistic" if self._target_type == "binary" else "linear"
        wexpr = F.col(w) if w is not None else F.lit(1.0)
        if kind0 == "huber" or not isinstance(kind0, str):
            # Custom estimator object (X1, reference scorecard.py:37-39
            # accepts any sklearn regressor/classifier) or Huber: the
            # loss may be nonlinear in per-row residuals, so the
            # (X, mean-label) group compression is invalid; the fit
            # runs on a bounded DETERMINISTIC and UNIFORM driver
            # sample.  Rows are ordered by a 64-bit hash of the full
            # row (TakeOrdered top-k, not a full sort), so the capped
            # sample spans the WoE/label distribution instead of its
            # lexicographically-smallest corner — at 100 TB an
            # orderBy(features) cap would hand the robust loss a
            # systematically event-free slice (WoE is monotone in
            # event rate).  Hash ties are identical rows, so two runs
            # collect the same design matrix bit-for-bit.
            cap = int(self.estimator_params.get("max_driver_rows", 100_000))
            sel = (
                woe.select(
                    *self.selected_, F.col(y).alias("__y"),
                    wexpr.alias("__w"),
                )
            )
            hkey = F.xxhash64(*self.selected_, F.col("__y"), F.col("__w"))
            order_cols = [hkey, *self.selected_, "__y", "__w"]
            # Arrow toPandas, not collect(): the 100k-row sample
            # arrives as columnar batches instead of 100k py4j Row
            # objects + a Python float loop — measured 2.2 s -> 0.24 s
            # at the sf0.1 anchor shape, bit-identical values.
            #
            # Hash-threshold prefilter (r17): orderBy+limit plans as
            # TakeOrderedAndProject — every partition keeps a cap-row
            # priority queue over the FULL table and the driver merges
            # the per-partition survivors single-threaded, so the pass
            # costs ~n tuple comparisons + a driver merge. hkey is the
            # PRIMARY sort key and xxhash64 is uniform over the signed
            # 64-bit range, so the cap-th smallest key sits near the
            # (cap/n)-quantile of that range: pre-filtering to
            # hkey <= T with T at 1.5x that quantile drops ~all
            # non-sample rows BEFORE the top-k machinery. Exactness is
            # guaranteed, not probabilistic: every excluded row has
            # hkey > T >= every survivor's hkey, so it ranks after the
            # whole survivor top-k under the full tuple order — IF the
            # filtered top-k comes back with cap rows, it IS the
            # unfiltered top-k (set equality, same order); a short
            # result (binomial shortfall at ~90 sigma, or a row count
            # near cap) falls back to the exact unfiltered pass.
            pdf = None
            prefilter = bool(self.estimator_params.get(
                "sample_prefilter", True))
            # n only sizes the filter threshold (exactness is
            # structural — see above): prefer the free binning-pass
            # hint over a dedicated full-table count() action
            n_rows = 0
            if prefilter:
                n_rows = getattr(self, "_n_rows_hint", None) \
                    or sel.count()
            if prefilter and n_rows > 2 * cap:
                frac = 1.5 * cap / n_rows
                t_cut = int(-(2 ** 63) + frac * 2.0 ** 64)
                pdf = (
                    sel.filter(hkey <= F.lit(t_cut))
                    .orderBy(*order_cols).limit(cap).toPandas()
                )
                if len(pdf) < cap:
                    pdf = None  # margin failed: exact fallback
            if pdf is None:
                pdf = sel.orderBy(*order_cols).limit(cap).toPandas()
            X = pdf[list(self.selected_)].to_numpy(dtype=float)
            yy = pdf["__y"].to_numpy(dtype=float)
            ww = pdf["__w"].to_numpy(dtype=float)
            # the collect()->toPandas swap silently turns a null
            # label/weight into NaN where float(None) used to raise —
            # a NaN here poisons every coefficient downstream, so
            # fail as loudly as the old path did
            if not (np.isfinite(X).all() and np.isfinite(yy).all()
                    and np.isfinite(ww).all()):
                raise ValueError(
                    "null/NaN in the robust-estimator design matrix "
                    "(WoE feature, label or weight) — refusing a "
                    "silently-poisoned fit; filter or impute the "
                    "offending rows before Scorecard.fit")
            if kind0 == "huber":
                return _driver_huber(
                    X, yy, ww,
                    epsilon=float(self.estimator_params.get("epsilon", 1.35)),
                )
            est = kind0
            try:
                est.fit(X, yy, sample_weight=ww)
            except TypeError:  # estimator without sample_weight support
                est.fit(X, yy)
            coef = np.ravel(np.asarray(est.coef_, dtype=float))
            intercept = np.ravel(np.asarray(
                getattr(est, "intercept_", 0.0), dtype=float))
            return list(coef), float(intercept[0] if intercept.size else 0.0)
        if kind0 == "logistic":
            woe = (
                woe.groupBy(*self.selected_, y)
                .agg(F.sum(wexpr).alias("__w"))
            )
        else:
            # WLS on per-group label means with weight n preserves
            # X'WX and X'Wy, hence the coefficients. __badlab counts
            # NULL labels per group: Spark's sum SKIPS them in the
            # numerator while the denominator still counts their
            # weight, so a missing target would silently BIAS the
            # per-group mean (not even poison it) — refuse loudly
            # below instead, like every other estimator path
            ycol = F.col(y).cast("double")
            woe = woe.groupBy(*self.selected_).agg(
                F.sum(wexpr).alias("__w"),
                (F.sum(wexpr * F.col(y)) / F.sum(wexpr)).alias(y),
                F.sum(F.when(ycol.isNull(), F.lit(1))
                      .otherwise(F.lit(0))).alias("__badlab"),
            )
        w = "__w"
        kind = kind0

        # Driver solve (IRLS / WLS) on the collected sufficient
        # statistics when the compressed design has at most
        # max_driver_rows rows. One collect replaces the
        # per-LBFGS-iteration job storm; results match an unregularized
        # MLlib fit to optimizer tolerance. Larger designs, and any
        # regParam > 0, fall back to MLlib.
        reg = float(self.estimator_params.get("regParam", 0.0))
        max_driver_rows = int(self.estimator_params.get("max_driver_rows", 100_000))
        pdf = None
        if reg == 0.0:
            # deterministic order: the normal-equation sums are float
            # and order-dependent at the last ulp; a stable orderBy
            # makes consecutive fits bit-identical. Arrow toPandas, not
            # collect(): the design is most of the input at 16
            # variables, and pickled Rows read back one field at a time
            # cost seconds of driver Python per fit
            pdf = woe.orderBy(*self.selected_, y).limit(
                max_driver_rows + 1).toPandas()
            if len(pdf) > max_driver_rows:
                pdf = None
        if pdf is not None:
            # C order, as the row-by-row build had: the IRLS/WLS
            # products sum in memory order, and a column-major X moves
            # the coefficients at the last ulps
            X = np.ascontiguousarray(
                pdf[list(self.selected_)].to_numpy(dtype=float))
            yy = pdf[y].to_numpy(dtype=float)
            ww = pdf["__w"].to_numpy(dtype=float)
            # same loud-failure posture as the robust-estimator sample
            # path above. Arrow hands a NULL label/weight over as NaN,
            # and Spark's sum PROPAGATES a NaN label through the design
            # compression, so either would silently poison every
            # coefficient; __badlab counts the NULL labels the linear
            # path's per-group mean skipped
            null_labels = "__badlab" in pdf and (pdf["__badlab"] > 0).any()
            if null_labels or not (np.isfinite(X).all()
                                   and np.isfinite(yy).all()
                                   and np.isfinite(ww).all()):
                raise ValueError(
                    "null or non-finite value in the estimator design "
                    "(WoE feature, label or weight) — the target column "
                    "carries missing or NaN/Inf values; filter or "
                    "impute the offending rows before Scorecard.fit")
            if kind == "logistic":
                return _driver_logistic(X, yy, ww)
            if kind == "linear":
                return _driver_wls(X, yy, ww)
            raise ValueError(f"unknown estimator {kind}")

        assembler = VectorAssembler(inputCols=self.selected_, outputCol="__features")
        assembled = assembler.transform(woe).cache()
        common = dict(
            featuresCol="__features",
            labelCol=y,
            standardization=False,
            regParam=reg,
            maxIter=self.estimator_params.get("maxIter", 100),
        )
        if w is not None:
            common["weightCol"] = w
        try:
            if kind == "logistic":
                from pyspark.ml.classification import LogisticRegression

                model = LogisticRegression(**common).fit(assembled)
                return list(model.coefficients.toArray()), model.intercept
            if kind == "linear":
                from pyspark.ml.regression import LinearRegression

                model = LinearRegression(**common).fit(assembled)
                return list(model.coefficients.toArray()), model.intercept
            raise ValueError(f"unknown estimator {kind}")
        finally:
            assembled.unpersist()

    # ------------------------------------------------------------------
    def _variable_bin_metric(self, v):
        """The per-bin transform values the estimator consumed
        (woe for binary, mean for continuous), incl. special/missing
        rows (their transform value is the configured default 0)."""
        b = self.binning_process.get_binned_variable(v)
        t = b.binning_table
        n_clean = sum(1 for k in t.kinds if k == "clean")
        vals = t.woe if self._target_type == "binary" else t.mean
        clean_vals = np.asarray(vals[:n_clean], dtype=float)
        return b, t, clean_vals

    def _build_points(self):
        """O12/O13: scale raw per-bin contributions into points."""
        n = len(self.selected_)
        raw = {}
        for v in self.selected_:
            _, _, woes = self._variable_bin_metric(v)
            raw[v] = self.coef_[v] * woes
        method = self.scaling_method
        if method is None:
            points = {v: raw[v] for v in self.selected_}
            base = self.intercept_
        elif method == "pdo_odds":
            p = self.scaling_method_params
            pdo, odds, sp = p["pdo"], p["odds"], p["scorecard_points"]
            factor = pdo / np.log(2)
            offset = sp - factor * np.log(odds)
            # score = offset - factor * (intercept + sum raw_i)
            points = {
                v: -factor * raw[v] + offset / n - factor * self.intercept_ / n
                for v in self.selected_
            }
            base = 0.0
        elif method == "min_max":
            p = self.scaling_method_params
            smin = sum(r.min() for r in raw.values()) + self.intercept_
            smax = sum(r.max() for r in raw.values()) + self.intercept_
            lo, hi = p["min"], p["max"]
            slope = (hi - lo) / max(smax - smin, _EPS)
            shift = lo - slope * smin
            points = {
                v: slope * raw[v] + (shift + slope * self.intercept_) / n
                for v in self.selected_
            }
            base = 0.0
        else:
            raise ValueError(f"unknown scaling_method {method}")

        if self.intercept_based:
            # O13: re-base each variable's minimum to 0
            for v in self.selected_:
                m = points[v].min()
                points[v] = points[v] - m
                base += m
        if self.rounding:
            # reference-parity rounding: preserve the min and max
            # achievable total score (RoundingMIP semantics), not just
            # the sum
            points = _round_points_minmax(points)
            base = float(np.round(base))
        self.points_ = points
        self.base_points_ = float(base)

    # ------------------------------------------------------------------
    def information(self, print_level: int = 1) -> str:
        """Scorecard fit report (reference scorecard.py information()).
        Returns the report string and prints it."""
        self._check_fitted()
        lines = [
            "Scorecard",
            f"  target type          : {self._target_type}",
            f"  n selected variables : {len(self.selected_)}",
            f"  scaling method       : {self.scaling_method}",
            f"  intercept            : {self.intercept_:.8f}",
        ]
        if print_level > 1:
            for v in self.selected_:
                lines.append(f"    {v:<20} coef={self.coef_[v]:+.8f}")
        report = "\n".join(lines)
        print(report)
        return report

    def table(self, style: str = "summary"):
        """Scorecard table: union of per-variable binning tables with
        Coefficient and Points columns (reference scorecard.py:631-663)."""
        self._check_fitted()
        import pandas as pd

        frames = []
        for v in self.selected_:
            b, t, woes = self._variable_bin_metric(v)
            n_clean = len(woes)
            tab = t.build(add_totals=False).iloc[:n_clean].copy()
            tab.insert(0, "variable", v)
            tab["coefficient"] = self.coef_[v]
            tab["points"] = self.points_[v]
            frames.append(tab)
        out = pd.concat(frames, ignore_index=True)
        if style == "summary":
            keep = [c for c in ("variable", "bin", "count", "event_rate",
                                "woe", "mean", "coefficient", "points")
                    if c in out.columns]
            out = out[keep]
        return out

    def _case_sql(self, v, vals) -> str:
        """SQL text of variable ``v``'s CASE: the clean bins map to
        ``vals``; missing, special and unknown-category rows map to 0
        (the estimator saw the metric default 0 there, so they add
        nothing to the linear predictor)."""
        bp = self.binning_process
        b = bp.get_binned_variable(v)
        dtype = bp._dtypes[v]
        branches = case_branches(
            dtype=dtype, splits=b._splits,
            bin_categories=b._bin_categories,
            special_codes=b.special_codes,
            clean_vals=[float(x) for x in vals], default=0.0,
            missing_value=0.0, special_value=lambda gi, g: 0.0,
        )
        cast = "double" if dtype == "numerical" else None
        return case_sql(column_sql(v, cast), branches, dtype)

    def _linear_sql(self, base, per_bin) -> str:
        """``base + CASE(v1) + CASE(v2) + ...`` as SQL text, with
        ``per_bin(v)`` the clean-bin values of variable v — the same
        left-deep sum the Column ``+`` chain builds."""
        return " + ".join(
            [sql_lit(float(base))]
            + [self._case_sql(v, per_bin(v)) for v in self.selected_])

    def _coef_times_metric(self, v):
        _, _, vals = self._variable_bin_metric(v)
        return [float(self.coef_[v] * x) for x in vals]

    def score_expr(self):
        """The scorecard as ONE column expression (one parsed SQL
        string: one py4j round trip at any number of variables)."""
        self._check_fitted()
        return F.expr(self._linear_sql(self.base_points_,
                                       lambda v: self.points_[v]))

    def score(self, df: DataFrame, out_col: str = "score") -> DataFrame:
        return df.withColumn(out_col, self.score_expr())

    def _proba_sql(self) -> str:
        lin = self._linear_sql(self.intercept_, self._coef_times_metric)
        return f"1.0D / (1.0D + exp(-({lin})))"

    def predict_proba_expr(self):
        """Closed-form sigmoid of the linear predictor — map-only
        scoring at any scale (binary only)."""
        self._check_fitted()
        return F.expr(self._proba_sql())

    def predict_proba(self, df: DataFrame, out_col: str = "proba") -> DataFrame:
        return df.withColumn(out_col, self.predict_proba_expr())

    def decision_function_expr(self):
        """The estimator's linear predictor (signed distance to the
        hyperplane in WoE space) — reference scorecard.py:375-395."""
        self._check_fitted()
        return F.expr(self._linear_sql(self.intercept_,
                                       self._coef_times_metric))

    def decision_function(self, df: DataFrame,
                          out_col: str = "decision") -> DataFrame:
        return df.withColumn(out_col, self.decision_function_expr())

    def transform(self, df: DataFrame) -> DataFrame:
        """Per-variable points columns (reference scorecard.py:455-475:
        'transform the dataset into scores' of shape
        n_samples x n_features) plus the original columns."""
        self._check_fitted()
        return df.select("*", *[
            F.expr(alias_sql(self._case_sql(v, self.points_[v]),
                             f"{v}_points"))
            for v in self.selected_])

    def predict(self, df: DataFrame, out_col: str = "prediction") -> DataFrame:
        self._check_fitted()
        if self._target_type == "binary":
            return df.withColumn(
                out_col, F.expr(f"CAST({self._proba_sql()} >= 0.5D AS INT)"))
        return df.withColumn(out_col, self.decision_function_expr())

    # ------------------------------------------------------------------
    def save(self, path: str):
        """Persist the full scorecard as JSON (reference
        scorecard.py:507-539 uses pickle; JSON keeps the model
        readable and engine-portable). Load supports score /
        predict_proba / table without refitting."""
        self._check_fitted()
        import json

        d = {
            "class": "Scorecard",
            "binning_process": self.binning_process.to_dict(),
            # custom estimator objects are not JSON-serializable; the
            # saved model only needs the fitted points, so record a tag
            "estimator": (self.estimator if isinstance(self.estimator, str)
                          else f"custom:{type(self.estimator).__name__}"),
            "scaling_method": self.scaling_method,
            "scaling_method_params": self.scaling_method_params,
            "intercept_based": self.intercept_based,
            "rounding": self.rounding,
            "target_type": self._target_type,
            "selected": list(self.selected_),
            "coef": {v: float(c) for v, c in self.coef_.items()},
            "intercept": self.intercept_,
            "points": {v: [float(p) for p in pts]
                       for v, pts in self.points_.items()},
            "base_points": self.base_points_,
        }
        with open(path, "w") as f:
            json.dump(d, f)

    @classmethod
    def load(cls, path: str) -> "Scorecard":
        import json

        from .binning_process import BinningProcess

        with open(path) as f:
            d = json.load(f)
        bp = BinningProcess.read_json_dict(d["binning_process"])
        obj = cls(
            bp,
            estimator=d["estimator"],
            scaling_method=d["scaling_method"],
            scaling_method_params=d["scaling_method_params"],
            intercept_based=d["intercept_based"],
            rounding=d["rounding"],
        )
        obj._target_type = d["target_type"]
        obj.selected_ = list(d["selected"])
        obj.coef_ = {v: float(c) for v, c in d["coef"].items()}
        obj.intercept_ = float(d["intercept"])
        obj.points_ = {v: np.asarray(p, dtype=float)
                       for v, p in d["points"].items()}
        obj.base_points_ = float(d["base_points"])
        obj._fitted = True
        return obj

    def _check_fitted(self):
        if not self._fitted:
            raise RuntimeError("Scorecard is not fitted")
