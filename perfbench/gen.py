"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed (numpy RandomState per
table/month/batch), writes parquet files under the run's work
directory, and returns numpy copies of the columns the output checks
recount. The engine only ever sees the parquet files.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Special codes planted in the numeric columns, per variable: 365243 is
# the Home Credit "pensioner" sentinel in DAYS_EMPLOYED; -999 marks a
# bureau lookup that never ran.
SPECIAL_CODES = {"days_employed": [365243.0], "bureau_req_year": [-999.0]}

NUMERIC = [
    "amt_income", "amt_credit", "amt_annuity", "amt_goods",
    "days_birth", "days_employed", "ext_source_1", "ext_source_2",
    "ext_source_3", "region_pop", "own_car_age", "bureau_req_year",
]
CATEGORICAL = ["organization_type", "education", "income_type",
               "housing_type"]
VARIABLES = NUMERIC + CATEGORICAL

_ORG = [f"org_{i:02d}" for i in range(58)]
_EDU = ["secondary", "higher", "incomplete_higher", "lower_secondary",
        "academic"]
_INC = ["working", "commercial", "pensioner", "state_servant",
        "unemployed", "student", "businessman", "maternity_leave"]
_HOUSE = ["house", "with_parents", "municipal", "rented", "office",
          "coop"]


class GenStats:
    """Rows, bytes and seconds spent generating inputs."""

    def __init__(self):
        self.rows = 0
        self.bytes = 0
        self.seconds = 0.0

    def write(self, table: pa.Table, path: str, row_group_size=50_000):
        pq.write_table(table, path, row_group_size=row_group_size)
        self.rows += table.num_rows
        self.bytes += os.path.getsize(path)


def _zipf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def credit_frame(seed: int, n: int, drift: float = 0.0) -> dict:
    """One block of a Home Credit shaped application table: twelve
    numeric columns (with NaN missing values and special codes), four
    categoricals (organization_type has 58 levels), a binary target
    ``y`` at about an 8% event rate and a continuous target ``loss``.
    ``drift`` shifts the score-relevant marginals so consecutive
    months differ."""
    rng = np.random.RandomState(seed % (2**32))
    c = {}
    c["amt_income"] = np.round(
        rng.lognormal(11.9 + 0.3 * drift, 0.5, n) / 450.0) * 450.0
    credit = np.round(rng.lognormal(13.1, 0.7, n) / 1000.0) * 1000.0
    c["amt_credit"] = credit
    annuity = np.round(credit / rng.uniform(10, 40, n), 1)
    goods = np.round(credit * rng.uniform(0.8, 1.0, n) / 4500.0) * 4500.0
    age = rng.uniform(7500, 25000, n)
    c["days_birth"] = -np.floor(age)
    employed = -np.floor(rng.gamma(1.5, 3000.0, n))
    pension = rng.rand(n) < 0.18
    employed[pension] = 365243.0
    c["days_employed"] = employed
    ext1 = rng.beta(2.0, 2.0, n)
    ext2 = np.clip(rng.beta(3.0, 2.0, n) + 0.05 * drift, 0.0, 1.0)
    ext3 = rng.beta(3.0, 2.5, n)
    c["region_pop"] = rng.choice(np.round(np.linspace(0.001, 0.07, 80), 6), n)
    car = rng.randint(0, 60, n).astype(float)
    bureau = rng.poisson(1.5, n).astype(float)
    org = rng.choice(58, n, p=_zipf(58, 0.9))
    edu = rng.choice(len(_EDU), n, p=[0.71, 0.24, 0.03, 0.015, 0.005])
    inc = rng.choice(len(_INC), n,
                     p=[0.52, 0.23, 0.17, 0.07, 0.004, 0.003, 0.002, 0.001])
    house = rng.choice(len(_HOUSE), n, p=[0.88, 0.05, 0.035, 0.015,
                                          0.01, 0.01])

    org_eff = np.linspace(-0.6, 0.6, 58)[rng.permutation(58)]
    logit = (
        -2.6 * (ext2 - 0.6) - 2.2 * (ext3 - 0.55) - 1.2 * (ext1 - 0.5)
        + 0.35 * (age < 12000) - 0.25 * pension
        + org_eff[org] + np.array([0.0, -0.4, 0.1, 0.5, -0.8])[edu]
        - 0.15 * np.log(c["amt_income"] / 150_000.0)
        + 0.2 * drift
    )
    # calibrate the intercept so the event rate is about 8%
    lo, hi = -8.0, 2.0
    for _ in range(40):
        mid = 0.5 * (lo + hi)
        if np.mean(1.0 / (1.0 + np.exp(-(logit + mid)))) > 0.08:
            hi = mid
        else:
            lo = mid
    p = 1.0 / (1.0 + np.exp(-(logit + 0.5 * (lo + hi))))
    c["y"] = (rng.rand(n) < p).astype(np.int32)
    c["loss"] = np.round(
        c["amt_income"] * 0.02 * (1.0 + 3.0 * p) * rng.lognormal(0, 0.3, n), 2)

    # missing values (NaN) at Home Credit-like rates
    annuity[rng.rand(n) < 0.001] = np.nan
    goods[rng.rand(n) < 0.001] = np.nan
    ext1[rng.rand(n) < 0.56] = np.nan
    ext2[rng.rand(n) < 0.002] = np.nan
    ext3[rng.rand(n) < 0.20] = np.nan
    car[rng.rand(n) < 0.66] = np.nan
    bureau[rng.rand(n) < 0.13] = np.nan
    bureau[rng.rand(n) < 0.05] = -999.0
    c["amt_annuity"] = annuity
    c["amt_goods"] = goods
    c["ext_source_1"] = np.round(ext1, 6)
    c["ext_source_2"] = np.round(ext2, 6)
    c["ext_source_3"] = np.round(ext3, 6)
    c["own_car_age"] = car
    c["bureau_req_year"] = bureau
    c["organization_type"] = np.array(_ORG, dtype=object)[org]
    c["education"] = np.array(_EDU, dtype=object)[edu]
    c["income_type"] = np.array(_INC, dtype=object)[inc]
    housing = np.array(_HOUSE, dtype=object)[house]
    housing[rng.rand(n) < 0.01] = None
    c["housing_type"] = housing
    return c


def credit_table(cols: dict, row_id_base: int = 0) -> pa.Table:
    n = len(cols["y"])
    arrays = {"row_id": pa.array(row_id_base + np.arange(n), pa.int64())}
    for v in NUMERIC:
        # NaN and NULL are both "missing" to the engine; keep NaN as
        # NaN so the float column round-trips exactly
        arrays[v] = pa.array(cols[v], pa.float64(), from_pandas=False)
    for v in CATEGORICAL:
        arrays[v] = pa.array(list(cols[v]), pa.string())
    arrays["y"] = pa.array(cols["y"], pa.int32())
    arrays["loss"] = pa.array(cols["loss"], pa.float64())
    return pa.table(arrays)


def write_credit(path: str, seed: int, n: int, drift: float,
                 stats: GenStats, row_id_base: int = 0) -> dict:
    t0 = time.perf_counter()
    cols = credit_frame(seed, n, drift)
    stats.write(credit_table(cols, row_id_base), path)
    stats.seconds += time.perf_counter() - t0
    return cols


def write_corpus(path: str, seed: int, n_shards: int, docs_per_shard: int,
                 stats: GenStats) -> dict:
    """Documents from the organic corpus generator in
    ``tools/gen_sf1_organic.py`` (Zipf tokens, boilerplate header,
    planted exact and near duplicates, cross-shard viral docs), one
    parquet file per shard. Returns doc ids and texts."""
    t0 = time.perf_counter()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    from tools import gen_sf1_organic as organic

    # the document builder seeds RandomState(seed * 1000 + shard + 101),
    # which takes only 32-bit seeds
    seed %= (2**32 - 1000) // 1000
    gseed = np.random.RandomState(seed)
    vocab = organic._vocab(40_000)
    zp = organic._zipf_p(40_000, 1.2)
    viral = organic._viral_docs(gseed, vocab, zp)
    os.makedirs(path, exist_ok=True)
    ids, texts = [], []
    for s in range(n_shards):
        t = organic._documents_shard(s, seed, n_shards, 0.10, vocab, zp,
                                     viral, n_docs=docs_per_shard)
        t = t.select(["doc_id", "text"])
        stats.write(t, os.path.join(path, f"shard{s:02d}.parquet"))
        ids.append(t.column("doc_id").to_numpy())
        texts.extend(t.column("text").to_pylist())
    stats.seconds += time.perf_counter() - t0
    return {"doc_id": np.concatenate(ids), "text": texts}
