"""Output checks that do not use the engine's solver.

Every check recounts from the generated numpy arrays, compares with
what the engine returned, and raises ``CheckError`` on a mismatch. The
benchmark counts an operation that raised (in the engine or here) as
failed.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np

RTOL = 1e-9


class CheckError(AssertionError):
    pass


def _require(ok: bool, what: str):
    if not ok:
        raise CheckError(what)


def bin_index(values, dtype: str, splits, bin_categories, special_codes):
    """Per-row bin position: clean bins 0..k-1, then one position per
    special group, then missing (the binning table's row order).
    Numeric clean bins are [s[i-1], s[i]); categories absent from
    every bin map to -1."""
    codes = special_codes
    if isinstance(codes, dict):
        groups = [list(v) for v in codes.values()]
    elif codes:
        groups = [list(codes)]
    else:
        groups = []
    if dtype == "numerical":
        x = np.asarray(values, dtype=float)
        missing = np.isnan(x)
        k = len(splits) + 1
        idx = np.searchsorted(np.asarray(splits, dtype=float), x,
                              side="right")
        for g, vals in enumerate(groups):
            idx[np.isin(x, [v for v in vals if not isinstance(v, str)])] = k + g
    else:
        x = np.asarray(values, dtype=object)
        missing = np.array([v is None for v in x])
        k = len(bin_categories)
        lookup = {c: i for i, cats in enumerate(bin_categories) for c in cats}
        idx = np.array([lookup.get(v, -1) for v in x], dtype=np.int64)
        for g, vals in enumerate(groups):
            str_vals = [v for v in vals if isinstance(v, str)]
            idx[np.isin(x, str_vals)] = k + g
    idx[missing] = k + len(groups)
    return idx, k + len(groups) + 1


def information_value(ne: np.ndarray, ev: np.ndarray) -> float:
    p = ev / max(ev.sum(), 1e-15)
    q = ne / max(ne.sum(), 1e-15)
    ok = (p > 0) & (q > 0)
    return float(np.sum((p[ok] - q[ok]) * np.log(p[ok] / q[ok])))


def _direction_changes(rates: np.ndarray, tol: float) -> list[int]:
    d = np.diff(rates)
    signs = [int(np.sign(v)) for v in d if abs(v) > tol]
    return [s for i, s in enumerate(signs) if i == 0 or s != signs[i - 1]]


def check_trend(rates: np.ndarray, trend, what: str, tol: float = 1e-12):
    """Clean-bin event rates follow the requested monotonic trend.
    ``auto`` resolves to ascending, descending, peak or valley, so it
    allows at most one change of direction."""
    runs = _direction_changes(np.asarray(rates, dtype=float), tol)
    if trend in (None, "convex", "concave"):
        return
    allowed = {
        "ascending": ([], [1]),
        "descending": ([], [-1]),
        "peak": ([], [1], [-1], [1, -1]),
        "valley": ([], [1], [-1], [-1, 1]),
        "auto": ([], [1], [-1], [1, -1], [-1, 1]),
    }[trend]
    _require(runs in [list(a) for a in allowed],
             f"{what}: event rates {np.round(rates, 5)} break trend {trend}")


def check_binary_binning(binner, values, y, special_codes, trend, what):
    """Recount a fitted binary binning table from the raw arrays, then
    recompute its IV and check the trend. Returns (ne, ev) per bin."""
    table = binner.binning_table
    # one row per bin: clean, each special group, missing
    kinds, ne_t, ev_t = table.kinds, table.ne_all, table.ev_all
    dtype = table.dtype
    idx, n_pos = bin_index(values, dtype, table.splits, table.bin_categories,
                           special_codes)
    _require(n_pos == len(kinds),
             f"{what}: table has {len(kinds)} rows, recount expects {n_pos}")
    _require(idx.min() >= 0, f"{what}: a fitted category is in no bin")
    y = np.asarray(y)
    ev = np.bincount(idx, weights=(y == 1), minlength=n_pos)
    ne = np.bincount(idx, weights=(y == 0), minlength=n_pos)
    _require(np.array_equal(ne, ne_t) and np.array_equal(ev, ev_t),
             f"{what}: per-bin counts differ from a numpy recount")
    iv = information_value(ne, ev)
    _require(np.isclose(iv, table.iv, rtol=RTOL, atol=1e-12),
             f"{what}: IV {table.iv} != recomputed {iv}")
    clean = np.array([k == "clean" for k in kinds])
    tot = ne[clean] + ev[clean]
    rates = np.where(tot > 0, ev[clean] / np.maximum(tot, 1), 0.0)
    if dtype == "numerical":
        check_trend(rates, trend, what)
    return ne, ev


def check_continuous_binning(binner, values, target, special_codes, what):
    """Recount a continuous binning table's per-bin record counts and
    target sums."""
    table = binner.binning_table
    idx, n_pos = bin_index(values, table.dtype, table.splits,
                           getattr(table, "bin_categories", None),
                           special_codes)
    cnt = np.bincount(idx, minlength=n_pos)
    sums = np.bincount(idx, weights=np.asarray(target, float), minlength=n_pos)
    t_cnt = np.asarray(table.build(add_totals=False)["count"], dtype=float)
    _require(len(t_cnt) == n_pos and np.array_equal(cnt, t_cnt),
             f"{what}: per-bin counts differ from a numpy recount")
    means = np.asarray(table.build(add_totals=False)["mean"], dtype=float)
    expect = np.where(cnt > 0, sums / np.maximum(cnt, 1), 0.0)
    ok = cnt > 0
    _require(np.allclose(means[ok], expect[ok], rtol=1e-9),
             f"{what}: per-bin means differ from a numpy recount")


def numpy_scores(scorecard, cols: dict) -> np.ndarray:
    """The scorecard's points summed in numpy in the same order as the
    engine's score expression (base points, then each selected
    variable), so equal inputs give bit-equal doubles."""
    bp = scorecard.binning_process
    n = len(cols["y"])
    total = np.full(n, scorecard.base_points_)
    for v in scorecard.selected_:
        b = bp.get_binned_variable(v)
        pts = np.asarray(scorecard.points_[v], dtype=float)
        table = b.binning_table
        idx, _ = bin_index(cols[v], table.dtype, table.splits,
                           table.bin_categories, b.special_codes)
        k = len(pts)
        # missing, special and unseen categories score 0 points
        contrib = np.where((idx >= 0) & (idx < k),
                           pts[np.clip(idx, 0, k - 1)], 0.0)
        total = total + contrib
    return total


def psi(actual: np.ndarray, expected: np.ndarray, edges) -> float:
    edges = np.asarray(edges, dtype=float)
    ca = np.bincount(np.searchsorted(edges, actual, side="right"),
                     minlength=len(edges) + 1).astype(float)
    ce = np.bincount(np.searchsorted(edges, expected, side="right"),
                     minlength=len(edges) + 1).astype(float)
    pa, pe = ca / ca.sum(), ce / ce.sum()
    ok = (pa > 0) & (pe > 0)
    return float(np.sum((pa[ok] - pe[ok]) * np.log(pa[ok] / pe[ok])))


def check_psi(monitor, scorecard, actual_cols, expected_cols):
    got = monitor.psi_total()
    want = psi(numpy_scores(scorecard, actual_cols),
               numpy_scores(scorecard, expected_cols), monitor.psi_splits)
    _require(np.isclose(got, want, rtol=1e-9, atol=1e-12),
             f"PSI {got} != recomputed {want}")


def check_sketch_totals(binners: dict, n_rows: int, n_events: int):
    """Each solved sketch table conserves the exact row and event
    totals of every batch folded into it."""
    for v, ob in binners.items():
        t = ob.binning_table
        rows = float(np.sum(t.ne_all) + np.sum(t.ev_all))
        events = float(np.sum(t.ev_all))
        _require(np.isclose(rows, n_rows, rtol=0, atol=1e-6),
                 f"sketch {v}: {rows} rows, {n_rows} folded")
        _require(np.isclose(events, n_events, rtol=0, atol=1e-6),
                 f"sketch {v}: {events} events, {n_events} folded")


def check_exact_duplicates(doc_ids, texts, cluster_of: dict):
    """Every group of documents with identical text lands in one
    cluster."""
    groups = defaultdict(list)
    for d, t in zip(doc_ids, texts):
        groups[t].append(int(d))
    n_groups = 0
    for ids in groups.values():
        if len(ids) > 1:
            n_groups += 1
            clusters = {cluster_of[i] for i in ids}
            _require(len(clusters) == 1,
                     f"exact duplicates {ids} split over clusters {clusters}")
    _require(n_groups > 0, "corpus has no exact-duplicate group to check")
    _require(len(cluster_of) == len(doc_ids),
             f"{len(cluster_of)} clustered ids for {len(doc_ids)} docs")
