"""Synthetic-corpus fuzz for the scorecard estimator oracles (r15).

This fuzz FOUND a real latent divergence class: every scorecard
estimator oracle built its design from the clean bins only, while the
engine (like the reference) fits on bp.transform of ALL rows — missing
x enters the compressed design at the transform default 0. The
lineitem testdata has no missing values in the fitted columns, so
every driver hash had passed vacuously; the first missing-bearing
corpus diverged (logistic slope -0.99998 engine vs the oracle's exact
MLE -1.0, score diffs up to 0.0075 at 4dp). The oracles now include
the missing design rows / COALESCE features to 0, route missing to 0
POINTS in scoring (the engine's Scorecard._case_sql), and map missing x to a
NULL prebin (a NULL lambda used to land missing in bin 0 and DuckDB's
NaN ordering landed NaN in the LAST bin).

Each test feeds the SAME random rows (integer-ish x with heavy ties,
NULL and NaN x, clean target) to the engine and to the oracle SQL via
a registered DuckDB view, and requires exact rounded equality.
"""

from __future__ import annotations

import zlib

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as E


def _corpus(rng, n, binary_logit=False, missing_ep=False):
    lo, hi = 1, 1 + int(rng.integers(8, 40))
    q = rng.integers(lo, hi + 1, n).astype(float)
    disc = rng.integers(0, 11, n).astype(float) / 100.0
    ep = rng.integers(900, 105000, n).astype(float)
    if binary_logit:
        logit = (-0.5 + 0.8 * (hi - q) / max(hi - lo, 1) + 3.0 * disc
                 - ep / 200000.0)
        rf = np.where(rng.uniform(size=n) < 1 / (1 + np.exp(-logit)),
                      "R", "N")
    else:
        p = 0.15 + 0.5 * (hi - q) / max(hi - lo, 1)
        rf = np.where(rng.uniform(size=n) < p, "R", "N")
    # missing x ONLY in l_quantity/l_discount features; the target
    # (net_price / y) stays clean — the engine REFUSES missing targets
    # loudly by design (test_missing_target_refused_loudly)
    q[rng.uniform(size=n) < 0.03] = np.nan
    qs = pd.Series(q)
    qs[rng.uniform(size=n) < 0.015] = None
    eps = pd.Series(ep)
    if missing_ep:
        # for the fixed-splits family on l_extendedprice — NOT for
        # continuous-target families, whose net_price must stay clean
        eps[rng.uniform(size=n) < 0.03] = np.nan
        eps[rng.uniform(size=n) < 0.015] = None
    return pd.DataFrame({
        "l_orderkey": np.arange(n, dtype=np.int64),
        "l_linenumber": np.ones(n, dtype=np.int64),
        "l_quantity": qs,
        "l_discount": disc,
        "l_extendedprice": eps,
        "l_returnflag": rf,
    })


def _spark_df(spark, pdf):
    from pyspark.sql import functions as F

    return (spark.createDataFrame(pdf)
            .withColumn("y", (F.col("l_returnflag") == "R").cast("int"))
            .withColumn("net_price",
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))))


def _compare(eng, ora, col):
    key = ["l_orderkey", "l_linenumber", col]
    a = eng.sort_values(key).reset_index(drop=True)
    b = ora.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b), (len(a), len(b))
    av, bv = a[col].to_numpy(), b[col].to_numpy()
    assert np.array_equal(av, bv), float(np.abs(av - bv).max())


def _eng_logistic(spark, pdf):
    from pyspark.sql import functions as F

    from optbinning_spark import BinningProcess
    from optbinning_spark.scorecard import Scorecard

    df = _spark_df(spark, pdf)
    bp = BinningProcess(["l_quantity"], prebinning_method="quantile",
                        max_n_prebins=8, monotonic_trend="descending")
    sc = Scorecard(bp)
    sc.fit(df, "y")
    return sc.score(df).select(
        "l_orderkey", "l_linenumber",
        (F.round(F.col("score"), 4) + F.lit(0.0)).alias("score")
    ).toPandas()


def _eng_linear(spark, pdf):
    from pyspark.sql import functions as F

    from optbinning_spark import BinningProcess
    from optbinning_spark.scorecard import Scorecard

    df = _spark_df(spark, pdf)
    bp = BinningProcess(
        ["l_quantity", "l_discount"], prebinning_method="quantile",
        max_n_prebins=8,
        binning_fit_params={
            "l_quantity": {"monotonic_trend": "descending"},
            "l_discount": {"monotonic_trend": "descending"},
        })
    sc = Scorecard(bp, estimator="linear", scaling_method="min_max",
                   scaling_method_params={"min": 0, "max": 100})
    sc.fit(df, "net_price")
    return sc.score(df).select(
        "l_orderkey", "l_linenumber",
        (F.round(F.col("score"), 2) + F.lit(0.0)).alias("score")
    ).toPandas()


def _eng_huber(spark, pdf):
    from pyspark.sql import functions as F

    from optbinning_spark import BinningProcess
    from optbinning_spark.scorecard import Scorecard

    df = _spark_df(spark, pdf)
    bp = BinningProcess(["l_quantity"], prebinning_method="quantile",
                        max_n_prebins=8,
                        binning_fit_params={
                            "l_quantity": {"monotonic_trend":
                                           "descending"}})
    sc = Scorecard(bp, estimator="huber")
    sc.fit(df, "net_price")
    return sc.score(df).select(
        "l_orderkey", "l_linenumber",
        (F.round(F.col("score"), 2) + F.lit(0.0)).alias("score")
    ).toPandas()


def _eng_scores3(spark, pdf):
    from pyspark.sql import functions as F

    from optbinning_spark import BinningProcess
    from optbinning_spark.scorecard import Scorecard

    df = _spark_df(spark, pdf)
    bp = BinningProcess(
        ["l_quantity", "l_extendedprice", "l_discount"],
        prebinning_method="quantile", probe_mode="exact")
    sc = Scorecard(bp, scaling_method="min_max",
                   scaling_method_params={"min": 0, "max": 100})
    sc.fit(df, "y")
    return sc.score(df).select(
        "l_orderkey", "l_linenumber",
        (F.round(F.col("score"), 4) + F.lit(0.0)).alias("score")
    ).toPandas()


FAMILIES = [
    ("scorecard_scores_logistic", _eng_logistic, False),
    ("scorecard_scores_linear", _eng_linear, False),
    ("scorecard_scores_huber", _eng_huber, False),
    ("scorecard_scores", _eng_scores3, True),
]


@pytest.mark.parametrize("n_datasets", [
    1, pytest.param(4, marks=pytest.mark.full)])
@pytest.mark.parametrize("name,runner,logit", FAMILIES,
                         ids=[f[0] for f in FAMILIES])
def test_scorecard_oracle_matches_on_missing_bearing_corpus(
        spark, name, runner, logit, n_datasets):
    sql = E.oracle_sql()[name]
    rng = np.random.default_rng(zlib.crc32(f"sc_fuzz_{name}".encode()))
    for _t in range(n_datasets):
        pdf = _corpus(rng, int(rng.integers(3000, 6000)),
                      binary_logit=logit)
        con = duckdb.connect()
        con.register("lineitem", pdf)
        ora = con.execute(sql).fetchdf()
        eng = runner(spark, pdf)
        _compare(eng, ora, "score")


def test_missing_target_refused_loudly(spark):
    """A missing TARGET must fail with the actionable message on both
    driver-solve paths (the huber sample path already had it; the
    WLS/logistic compressed-design path used to die with a bare
    float(None) TypeError)."""
    from optbinning_spark import BinningProcess
    from optbinning_spark.scorecard import Scorecard

    rng = np.random.default_rng(7)
    pdf = _corpus(rng, 2000)
    ds = pdf["l_discount"].copy()
    ds[rng.uniform(size=len(pdf)) < 0.02] = None  # poisons net_price
    pdf["l_discount"] = ds
    df = _spark_df(spark, pdf)
    for est in ("linear", "huber"):
        bp = BinningProcess(["l_quantity"],
                            prebinning_method="quantile")
        sc = Scorecard(bp, estimator=est)
        with pytest.raises(ValueError, match="missing|null|NaN"):
            sc.fit(df, "net_price")


TRANSFORM_FAMILIES = [
    # (name, needs only lineitem.parquet in the sf dir)
    "optimal_binning_table",
    "optimal_woe_transform",
    "woe_transform",
    "mean_transform",
    "indices_bins_transform",
    "continuous_binning_table",
    "ks",
]


@pytest.mark.parametrize("n_datasets", [
    1, pytest.param(3, marks=pytest.mark.full)])
def test_transform_oracles_match_on_missing_bearing_corpus(
        spark, tmp_path, n_datasets):
    """The fit/transform/table oracle families on synthetic corpora
    with NULL/NaN x — these already handled missing correctly (their
    oracles carry explicit Missing branches); this test locks that
    against regression. The corpus is written as a real sf-dir
    (lineitem.parquet) so every q_ function runs unmodified."""
    oracles = E.oracle_sql()
    qs = E.queries()
    rng = np.random.default_rng(zlib.crc32(b"transform_family_fuzz"))
    for t in range(n_datasets):
        pdf = _corpus(rng, int(rng.integers(3000, 6000)),
                      binary_logit=True)
        sf = tmp_path / f"sf_{t}"
        sf.mkdir()
        pdf.to_parquet(sf / "lineitem.parquet")
        con = duckdb.connect()
        con.register("lineitem", pdf)
        for name in TRANSFORM_FAMILIES:
            ora = con.execute(oracles[name]).fetchdf()
            eng = qs[name](spark, str(sf)).toPandas()
            cols = list(eng.columns)
            a = eng.sort_values(cols).reset_index(drop=True)
            b = ora[cols].sort_values(cols).reset_index(drop=True)
            assert len(a) == len(b), (t, name, len(a), len(b))
            for c in cols:
                av, bv = a[c].to_numpy(), b[c].to_numpy()
                if av.dtype.kind in "fciu" or bv.dtype.kind in "fciu":
                    ok = np.array_equal(
                        np.asarray(av, dtype=float),
                        np.asarray(bv, dtype=float), equal_nan=True)
                else:
                    ok = (np.asarray(av, dtype=object)
                          == np.asarray(bv, dtype=object)).all()
                assert ok, (t, name, c)


FIXED_SPLIT_FAMILIES = [
    # fixed-splits queries on l_extendedprice / l_quantity: raw
    # digitize grouping (NULL -> its own group, NaN -> last bin, per
    # numeric_bin_expr) and transform routing (NULL/NaN -> the
    # metric_missing value). All were latently divergent on missing
    # input before the r15 _sql_bin_case NULL guard + per-oracle
    # missing branches.
    "prebin_counts",
    "binning_table_fixed",
    "woe_transform",
    "indices_bins_transform",
    "ks",
    "chi2_tests",
    "contingency_2d",
]


@pytest.mark.parametrize("n_datasets", [
    1, pytest.param(3, marks=pytest.mark.full)])
def test_fixed_split_oracles_match_on_missing_ep_corpus(
        spark, tmp_path, n_datasets):
    oracles = E.oracle_sql()
    qs = E.queries()
    rng = np.random.default_rng(zlib.crc32(b"fixed_split_family_fuzz"))
    for t in range(n_datasets):
        pdf = _corpus(rng, int(rng.integers(3000, 6000)),
                      binary_logit=True, missing_ep=True)
        sf = tmp_path / f"sf_ep_{t}"
        sf.mkdir()
        pdf.to_parquet(sf / "lineitem.parquet")
        con = duckdb.connect()
        con.register("lineitem", pdf)
        for name in FIXED_SPLIT_FAMILIES:
            ora = con.execute(oracles[name]).fetchdf()
            eng = qs[name](spark, str(sf)).toPandas()
            cols = list(eng.columns)
            a = eng.sort_values(cols, na_position="first")                 .reset_index(drop=True)
            b = ora[cols].sort_values(cols, na_position="first")                 .reset_index(drop=True)
            assert len(a) == len(b), (t, name, len(a), len(b))
            for c in cols:
                av, bv = a[c].to_numpy(), b[c].to_numpy()
                if av.dtype.kind in "fciu" or bv.dtype.kind in "fciu":
                    ok = np.array_equal(
                        np.asarray(av, dtype=float),
                        np.asarray(bv, dtype=float), equal_nan=True)
                else:
                    ok = (np.asarray(av, dtype=object)
                          == np.asarray(bv, dtype=object)).all()
                assert ok, (t, name, c)


MULTICLASS_FAMILIES = ["multiclass_bin_counts",
                       "multiclass_binning_table",
                       "multiclass_mean_woe_transform"]


@pytest.mark.parametrize("n_datasets", [
    1, pytest.param(3, marks=pytest.mark.full)])
def test_multiclass_oracles_match_on_missing_bearing_corpus(
        spark, tmp_path, n_datasets):
    """The multiclass family (A4/O7/F5 — including the r16 debut
    multiclass_mean_woe_transform) on synthetic corpora with NULL/NaN
    x and a genuine 3-class target: the Missing row enters the
    one-vs-rest WoE totals (multiclass_binning.py:56-70), which the
    clean lineitem testdata never exercises."""
    oracles = E.oracle_sql()
    qs = E.queries()
    rng = np.random.default_rng(zlib.crc32(b"multiclass_family_fuzz"))
    for t in range(n_datasets):
        pdf = _corpus(rng, int(rng.integers(3000, 6000)))
        # rewrite the target to 3 classes (R/A/N), correlated with x
        # so the partition search has structure to find
        q = pdf["l_quantity"].fillna(0.0)
        u = rng.uniform(size=len(pdf))
        pdf["l_returnflag"] = np.where(
            u < 0.25 + 0.4 * (q > q.median()), "R",
            np.where(u < 0.65, "A", "N"))
        sf = tmp_path / f"sf_mc_{t}"
        sf.mkdir()
        pdf.to_parquet(sf / "lineitem.parquet")
        con = duckdb.connect()
        con.register("lineitem", pdf)
        for name in MULTICLASS_FAMILIES:
            ora = con.execute(oracles[name]).fetchdf()
            eng = qs[name](spark, str(sf)).toPandas()
            cols = list(eng.columns)
            a = eng.sort_values(cols, na_position="first") \
                .reset_index(drop=True)
            b = ora[cols].sort_values(cols, na_position="first") \
                .reset_index(drop=True)
            assert len(a) == len(b), (t, name, len(a), len(b))
            for c in cols:
                av, bv = a[c].to_numpy(), b[c].to_numpy()
                try:
                    ok = np.array_equal(
                        np.asarray(av, dtype=float),
                        np.asarray(bv, dtype=float), equal_nan=True)
                except (ValueError, TypeError):
                    ok = (pd.isna(av) == pd.isna(bv)).all() and all(
                        (pd.isna(x) and pd.isna(yy)) or x == yy
                        for x, yy in zip(av, bv))
                assert ok, (t, name, c)


def _orders_corpus(rng, n):
    tp = rng.integers(10000, 500000, n).astype(float)
    tps = pd.Series(tp)
    tps[rng.uniform(size=n) < 0.03] = np.nan
    tps[rng.uniform(size=n) < 0.015] = None
    pri = rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                      "4-NOT SPECIFIED", "5-LOW"], n).astype(object)
    pri[rng.uniform(size=n) < 0.03] = None  # NULL categories
    st = rng.choice(["F", "O", "P"], n, p=[0.45, 0.45, 0.1])
    dates = (pd.Timestamp("1996-01-01")
             + pd.to_timedelta(rng.integers(0, 1500, n), unit="D"))
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(1, 500, n).astype(np.int64),
        "o_orderstatus": st,
        "o_totalprice": tps,
        "o_orderdate": dates,
        "o_orderpriority": pri,
    })


ORDERS_FAMILIES = ["event_rate_order", "categorical_optimal_binning",
                   "psi"]


@pytest.mark.parametrize("n_datasets", [
    1, pytest.param(3, marks=pytest.mark.full)])
def test_orders_oracles_match_on_missing_bearing_corpus(
        spark, tmp_path, n_datasets):
    """Orders-table families: NULL categories (missing for the
    categorical binner / event-rate ordering) and NULL/NaN
    o_totalprice (the fixed-splits PSI). Timestamps are coerced to
    microseconds because the session reads parquet nanos as long."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    oracles = E.oracle_sql()
    qs = E.queries()
    rng = np.random.default_rng(zlib.crc32(b"orders_family_fuzz"))
    for t in range(n_datasets):
        pdf = _orders_corpus(rng, int(rng.integers(3000, 6000)))
        sf = tmp_path / f"sf_o_{t}"
        sf.mkdir()
        tbl = pa.Table.from_pandas(pdf)
        pq.write_table(tbl, sf / "orders.parquet",
                       coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        con = duckdb.connect()
        con.register("orders", pdf)
        for name in ORDERS_FAMILIES:
            ora = con.execute(oracles[name]).fetchdf()
            eng = qs[name](spark, str(sf)).toPandas()
            cols = list(eng.columns)
            a = eng.sort_values(cols, na_position="first") \
                .reset_index(drop=True)
            b = ora[cols].sort_values(cols, na_position="first") \
                .reset_index(drop=True)
            assert len(a) == len(b), (t, name, len(a), len(b))
            for c in cols:
                av, bv = a[c].to_numpy(), b[c].to_numpy()
                try:
                    ok = np.array_equal(
                        np.asarray(av, dtype=float),
                        np.asarray(bv, dtype=float), equal_nan=True)
                except (ValueError, TypeError):
                    ok = (pd.isna(av) == pd.isna(bv)).all() and all(
                        (pd.isna(x) and pd.isna(yy)) or x == yy
                        for x, yy in zip(av, bv))
                assert ok, (t, name, c)


DOCS_FAMILIES = ["doc_token_stats", "lang_id", "gopher_flags",
                 "doc_normalize", "exact_dedup", "doc_quality",
                 "doc_fingerprint", "repetition_flags",
                 "pii_redaction", "jaccard_pairs"]


def _docs_corpus(rng, n=400):
    words = ["the", "cat", "sat", "on", "mat", "data", "spark",
             "engine", "fuzz", "naive", "uber", "tok", "a", "b",
             "xx", "123", "4.5", "e@f.gh", "#tag", "..."]
    texts = []
    for _ in range(n):
        k = int(rng.integers(0, 40))
        texts.append(" ".join(rng.choice(words, k)) if k else "")
    texts = pd.Series(texts, dtype=object)
    texts[rng.uniform(size=n) < 0.04] = None   # NULL text
    texts[rng.uniform(size=n) < 0.03] = ""
    texts[rng.uniform(size=n) < 0.02] = "   "
    for j in range(0, n, 17):                   # exact duplicates
        if j + 1 < n:
            texts[j + 1] = texts[j]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr"], n),
        "source": rng.choice(["web", "book"], n),
        "n_chars": texts.fillna("").str.len().astype(np.int64),
    })


EVENTS_FAMILIES = ["event_window_stats", "event_type_psi",
                   "event_psi_monitor"]


def _norm_datetimes(df):
    """Spark toPandas yields datetime64[ns], DuckDB fetchdf
    datetime64[us] — same instants, different int representations
    under a float cast. Normalize to [ns] like the driver's
    comparator normalizes dtypes."""
    out = df.copy()
    for c in out.columns:
        if str(out[c].dtype).startswith("datetime64"):
            out[c] = out[c].astype("datetime64[ns]")
    return out


def _events_corpus(rng, n):
    ts = pd.Series(
        pd.Timestamp("2024-03-01")
        + pd.to_timedelta(rng.integers(0, 90 * 86400, n), unit="s"))
    # exact-midnight timestamps probe the day-window boundary
    ts = ts.where(rng.uniform(size=n) > 0.05, ts.dt.normalize())
    et = rng.choice(["click", "view", "buy", ""], n,
                    p=[0.4, 0.4, 0.15, 0.05]).astype(object)
    et[rng.uniform(size=n) < 0.03] = None       # NULL event_type
    val = pd.Series(rng.standard_normal(n) * 10)
    val[rng.uniform(size=n) < 0.04] = None      # NULL value
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(1, 50, n).astype(np.int64),
        "event_type": et,
        "value": val,
        "props": rng.choice(["{}", '{"a":1}'], n),
    })


@pytest.mark.parametrize("n_datasets", [
    1, pytest.param(3, marks=pytest.mark.full)])
def test_events_oracles_match_on_null_bearing_corpus(
        spark, tmp_path, n_datasets):
    """Events-table families on corpora with NULL event_type / value,
    empty-string types (distinct from NULL), and exact-midnight
    timestamps sitting ON the tumbling-window boundary."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    oracles = E.oracle_sql()
    qs = E.queries()
    rng = np.random.default_rng(zlib.crc32(b"events_family_fuzz"))
    for t in range(n_datasets):
        pdf = _events_corpus(rng, int(rng.integers(2000, 4000)))
        sf = tmp_path / f"sf_ev_{t}"
        sf.mkdir()
        pq.write_table(pa.Table.from_pandas(pdf),
                       sf / "events.parquet",
                       coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        con = duckdb.connect()
        # register the WRITTEN parquet (TIMESTAMP us), not the pandas
        # frame (TIMESTAMP_NS) — matching how the driver registers
        # its views
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{sf / 'events.parquet'}')")
        for name in EVENTS_FAMILIES:
            ora = _norm_datetimes(con.execute(oracles[name]).fetchdf())
            eng = _norm_datetimes(qs[name](spark, str(sf)).toPandas())
            cols = list(eng.columns)
            a = eng.sort_values(cols, na_position="first") \
                .reset_index(drop=True)
            b = ora[cols].sort_values(cols, na_position="first") \
                .reset_index(drop=True)
            assert len(a) == len(b), (t, name, len(a), len(b))
            for c in cols:
                av, bv = a[c].to_numpy(), b[c].to_numpy()
                try:
                    ok = np.array_equal(
                        np.asarray(av, dtype=float),
                        np.asarray(bv, dtype=float), equal_nan=True)
                except (ValueError, TypeError):
                    ok = (pd.isna(av) == pd.isna(bv)).all() and all(
                        (pd.isna(x) and pd.isna(yy)) or x == yy
                        for x, yy in zip(av, bv))
                assert ok, (t, name, c)


# Adversarial text corpus (r15 verdict ask #4): non-ASCII incl.
# astral-plane code points (UTF-16 surrogate PAIRS on the JVM side —
# the likeliest Spark-vs-DuckDB divergence surface for length /
# substring / regex semantics), combining characters, docs of one
# repeated token, multi-paragraph docs with cross-doc duplicate
# paragraphs (so paragraph_dedup and dup_ngram_spans have real hits),
# plus the r15 NULL / empty / whitespace-only cases.
_ADV_WORDS = [
    "the", "cat", "data", "spark", "naïve", "Äpfel", "über",
    "кошка", "данные", "猫", "数据分析", "日本語テスト", "🎉", "😀🚀",
    "𝄞clef", "étude",  # combining acute
    "ﬁle",  # ligature
    "e@f.gh", "#tag", "4.5", "...", "a", "xx",
]


def _adv_paragraph(rng):
    k = int(rng.integers(1, 12))
    return " ".join(rng.choice(_ADV_WORDS, k))


def _adv_docs_corpus(rng, n=400):
    # small paragraph pool -> real cross-doc duplicate paragraphs
    pool = [_adv_paragraph(rng) for _ in range(max(8, n // 12))]
    texts = []
    for _ in range(n):
        r = rng.uniform()
        if r < 0.06:
            # one token repeated many times (repetition/ngram edge)
            texts.append(" ".join([str(rng.choice(_ADV_WORDS))]
                                  * int(rng.integers(2, 120))))
        else:
            nps = int(rng.integers(1, 5))
            texts.append("\n\n".join(
                pool[int(rng.integers(0, len(pool)))]
                for _ in range(nps)))
    texts = pd.Series(texts, dtype=object)
    texts[rng.uniform(size=n) < 0.04] = None
    texts[rng.uniform(size=n) < 0.03] = ""
    texts[rng.uniform(size=n) < 0.02] = "   "
    for j in range(0, n, 13):                   # exact duplicates
        if j + 1 < n:
            texts[j + 1] = texts[j]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr"], n),
        "source": rng.choice(["web", "book"], n),
        "n_chars": texts.map(lambda s: len(s) if isinstance(s, str)
                             else 0).astype(np.int64),
    })


# Every documents-only oracle family: the r15 DOCS_FAMILIES plus the
# dedup/text entries the r15 verdict named (dup_ngram_spans,
# paragraph_dedup, bpe_subword_count) and the rest of the
# documents-table surface. simhash_pairs / minhash_signatures /
# doc_contamination also read embeddings/events/lineitem fixtures and
# are covered by the (simpler) r15 corpus families they share code
# with (simhash, lsh_candidates, jaccard_pairs).
ADV_DOCS_FAMILIES = DOCS_FAMILIES + [
    "dup_ngram_spans",
    "paragraph_dedup",
    "bpe_subword_count",
    "bpe_token_count",
    "lsh_candidates",
    "doc_chunks",
    "pack_sequences",
    "doc_split_assignment",
    "stratified_doc_sample",
    "quality_top_fraction",
    "mixture_rates",
    "lm_perplexity",
]


@pytest.mark.parametrize("n_datasets", [
    1, pytest.param(3, marks=pytest.mark.full)])
def test_docs_oracles_match_on_adversarial_unicode_corpus(
        spark, tmp_path, n_datasets):
    """All documents-table oracle families on adversarial corpora:
    astral-plane unicode, combining chars, repeated-token docs,
    duplicate paragraphs, NULL/empty/whitespace text."""
    oracles = E.oracle_sql()
    qs = E.queries()
    rng = np.random.default_rng(zlib.crc32(b"adv_docs_family_fuzz"))
    for t in range(n_datasets):
        pdf = _adv_docs_corpus(rng, int(rng.integers(250, 450)))
        sf = tmp_path / f"sf_adv_{t}"
        sf.mkdir()
        pdf.to_parquet(sf / "documents.parquet")
        con = duckdb.connect()
        con.register("documents", pdf)
        for name in ADV_DOCS_FAMILIES:
            ora = con.execute(oracles[name]).fetchdf()
            eng = qs[name](spark, str(sf)).toPandas()
            cols = list(eng.columns)
            a = eng.sort_values(cols, na_position="first") \
                .reset_index(drop=True)
            b = ora[cols].sort_values(cols, na_position="first") \
                .reset_index(drop=True)
            assert len(a) == len(b), (t, name, len(a), len(b))
            for c in cols:
                av, bv = a[c].to_numpy(), b[c].to_numpy()
                try:
                    ok = np.array_equal(
                        np.asarray(av, dtype=float),
                        np.asarray(bv, dtype=float), equal_nan=True)
                except (ValueError, TypeError):
                    ok = (pd.isna(av) == pd.isna(bv)).all() and all(
                        (pd.isna(x) and pd.isna(yy)) or x == yy
                        for x, yy in zip(av, bv))
                assert ok, (t, name, c)


@pytest.mark.parametrize("n_datasets", [
    1, pytest.param(3, marks=pytest.mark.full)])
def test_docs_oracles_match_on_null_text_corpus(
        spark, tmp_path, n_datasets):
    """Documents-table families on corpora with NULL / empty /
    whitespace-only text and injected exact duplicates. Found and
    fixed in r15: lang_id's score CASE fell through to 'zh' on NULL
    text (all marker scores NULL, engine says 'unknown') and
    doc_fingerprint emitted 0 where the engine null-propagates."""
    oracles = E.oracle_sql()
    qs = E.queries()
    rng = np.random.default_rng(zlib.crc32(b"docs_family_fuzz"))
    for t in range(n_datasets):
        pdf = _docs_corpus(rng, int(rng.integers(300, 600)))
        sf = tmp_path / f"sf_d_{t}"
        sf.mkdir()
        pdf.to_parquet(sf / "documents.parquet")
        con = duckdb.connect()
        con.register("documents", pdf)
        for name in DOCS_FAMILIES:
            ora = con.execute(oracles[name]).fetchdf()
            eng = qs[name](spark, str(sf)).toPandas()
            cols = list(eng.columns)
            a = eng.sort_values(cols, na_position="first") \
                .reset_index(drop=True)
            b = ora[cols].sort_values(cols, na_position="first") \
                .reset_index(drop=True)
            assert len(a) == len(b), (t, name, len(a), len(b))
            for c in cols:
                av, bv = a[c].to_numpy(), b[c].to_numpy()
                try:
                    ok = np.array_equal(
                        np.asarray(av, dtype=float),
                        np.asarray(bv, dtype=float), equal_nan=True)
                except (ValueError, TypeError):
                    ok = (pd.isna(av) == pd.isna(bv)).all() and all(
                        (pd.isna(x) and pd.isna(yy)) or x == yy
                        for x, yy in zip(av, bv))
                assert ok, (t, name, c)
