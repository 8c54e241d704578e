"""probe_mode="exact" (BinningProcess): the audit/oracle probe that
makes the fused fit's split proposal deterministic and replayable —
exact count_distinct for the small/big gate and exact full-data
percentile bucket edges instead of HLL + sampled percentile_approx.
Plan shape is unchanged (one probe action + one stats action)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from optbinning_spark import BinningProcess

SF = "/root/testdata/sf0.001"


def _frame(spark):
    return (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .withColumn("y", (F.col("l_returnflag") == "R").cast("int"))
    )


def test_probe_mode_validated():
    with pytest.raises(ValueError, match="probe_mode"):
        BinningProcess(["l_quantity"], probe_mode="sampled")


def test_prebinning_method_validated():
    for method in ("quantile_exact", "tree", ""):
        with pytest.raises(ValueError, match="prebinning_method"):
            BinningProcess(["l_quantity"], prebinning_method=method)
    for method in ("cart", "mdlp", "quantile", "uniform"):
        BinningProcess(["l_quantity"], prebinning_method=method)


def test_exact_probe_matches_approx_on_low_cardinality(spark):
    """Low-cardinality variables take the exact-distinct-value path in
    BOTH modes (the probe only gates and seeds the bucket path), so
    splits and summary must be identical."""
    df = _frame(spark)
    out = {}
    for mode in ("approx", "exact"):
        bp = BinningProcess(
            ["l_quantity", "l_discount", "l_linenumber"], probe_mode=mode)
        bp.fit(df, "y")
        s = bp.summary()
        out[mode] = [
            (n, int(b), round(float(iv), 10))
            for n, b, iv in zip(s["name"], s["n_bins"], s["iv"])
        ]
        for v in ("l_quantity", "l_discount"):
            out[mode].append((v, list(bp._binners[v]._splits)))
    assert out["approx"] == out["exact"]


def test_exact_probe_high_cardinality_splits_on_exact_percentile_edges(
        spark):
    """High-cardinality variables bucket on EXACT percentile edges in
    exact mode: every proposed split must be a member of the
    np.percentile(values, linspace) grid (snap_splits_to_edges snaps
    CART midpoints to bucket lower edges)."""
    df = _frame(spark)
    bp = BinningProcess(["l_extendedprice"], probe_mode="exact")
    bp.fit(df, "y")
    splits = bp._binners["l_extendedprice"]._splits
    assert len(splits) >= 2
    import duckdb

    con = duckdb.connect()
    probs = ", ".join(f"{i}/256.0" for i in range(1, 256))
    (edges,) = con.execute(
        "SELECT list_sort(list_distinct(quantile_cont(l_extendedprice, "
        f"[{probs}]))) FROM read_parquet('{SF}/lineitem.parquet') "
        "WHERE l_extendedprice IS NOT NULL"
    ).fetchone()
    grid = set(edges)
    for s in splits:
        assert float(s) in grid, (s, sorted(grid)[:5])
