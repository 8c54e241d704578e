"""The benchmark's workloads.

A workload generates its inputs from the seed, then runs steps. A step
is a fixed sequence of operations, the same kinds in every step, so
step walls are comparable; successive steps read different months or
grid points, so no step can reuse another's results. ``Runner.op``
times one operation and, in a traced run, opens one tracer phase for
it. Output checks run after the timed call returns.
"""

from __future__ import annotations

import copy
import os

import numpy as np

import checks
import gen

# per variable: a global numeric code list would also be matched
# against the string categoricals (see README, engine defect)
CREDIT_SPECIALS = gen.SPECIAL_CODES


def _read(spark, paths):
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.parquet(*paths)


class CreditScorecard:
    """The full model lifecycle, one month per step. Each month arrives
    as two shards. The step fits a 16-variable BinningProcess (defaults
    plus max_pvalue=0.05) inside a logistic Scorecard and builds its
    table, scores every row of the month to the noop sink, and runs
    ScorecardMonitoring of the month against the previous one. It also
    keeps the streaming view of the same months: both shards are
    folded into one BinningProcessSketch per shard with
    ``add_shards``, the shards are merged and solved, and the month is
    transformed through the solution."""

    name = "credit_scorecard"
    n_months = 5  # month 0 is only a monitoring baseline
    # the Home Credit application table (307,511 rows) split into
    # months of two shards each
    shard_rows = 307_511 // n_months // 2
    SKETCH_VARS = ["ext_source_2", "amt_income", "days_employed",
                   "education"]

    def __init__(self, spark, seed):
        from optbinning_spark.streaming.sketch import BinningProcessSketch

        self.spark = spark
        self.seed = seed
        self.sketches = [
            BinningProcessSketch(self.SKETCH_VARS,
                                 categorical_variables=["education"],
                                 special_codes=CREDIT_SPECIALS)
            for _ in range(2)]
        self.folded_rows = 0
        self.folded_events = 0

    def snapshot(self):
        return copy.deepcopy((self.sketches, self.folded_rows,
                              self.folded_events))

    def restore(self, state):
        self.sketches, self.folded_rows, self.folded_events = state

    def generate(self, work, stats):
        self.paths, self.cols = [], []
        for m in range(self.n_months):
            shards = []
            for s in range(2):
                p = os.path.join(work, f"month{m}_shard{s}.parquet")
                shards.append(gen.write_credit(
                    p, self.seed * 100 + 10 * m + s, self.shard_rows,
                    m / 10.0, stats,
                    row_id_base=(2 * m + s) * self.shard_rows))
                self.paths.append(p)
            self.cols.append({k: np.concatenate([c[k] for c in shards])
                              for k in shards[0]})
        self.paths = [self.paths[2 * m:2 * m + 2]
                      for m in range(self.n_months)]

    def step(self, i, run):
        from optbinning_spark import (BinningProcess, Scorecard,
                                      ScorecardMonitoring)
        from optbinning_spark.streaming.sketch import add_shards

        # step 0 (the warm-up) reads month 1; later steps cycle 2..4
        m = 1 if i == 0 else 2 + (i - 1) % (self.n_months - 2)
        df = _read(self.spark, self.paths[m])
        prev = _read(self.spark, self.paths[m - 1])
        cols = self.cols[m]
        n = len(cols["y"])

        def fit():
            bp = BinningProcess(gen.VARIABLES,
                                categorical_variables=gen.CATEGORICAL,
                                special_codes=CREDIT_SPECIALS,
                                max_pvalue=0.05)
            sc = Scorecard(bp, estimator="logistic").fit(df, "y")
            if len(sc.table()) == 0:
                raise checks.CheckError("empty scorecard table")
            return sc

        def check_fit(sc):
            bp = sc.binning_process
            for v in gen.VARIABLES:
                checks.check_binary_binning(
                    bp.get_binned_variable(v), cols[v], cols["y"],
                    CREDIT_SPECIALS.get(v), "auto", f"month {m} {v}")

        sc = run.op("fit", fit, check=check_fit, rows=n)
        run.op("score", lambda: sc.score(df).write.format("noop")
               .mode("overwrite").save(), rows=n, layer="scorecard.score")
        run.op("monitor", lambda: ScorecardMonitoring(sc).fit(df, prev, "y"),
               rows=2 * n, check=lambda mon: checks.check_psi(
                   mon, sc, cols, self.cols[m - 1]))

        shards = [_read(self.spark, p) for p in self.paths[m]]
        tasks = [(sk.get_binned_variable(v), shard, v, "y")
                 for sk, shard in zip(self.sketches, shards)
                 for v in self.SKETCH_VARS]
        run.op("add", lambda: add_shards(tasks), rows=n,
               sketch_adds=len(tasks))
        self.folded_rows += n
        self.folded_events += int(cols["y"].sum())
        merged = run.op("merge", lambda: copy.deepcopy(self.sketches[0])
                        .merge(self.sketches[1]))
        run.op("solve", merged.solve, check=lambda b: checks
               .check_sketch_totals(b, self.folded_rows, self.folded_events))
        run.sketch_memory = sum(merged.get_binned_variable(v).memory_usage
                                for v in self.SKETCH_VARS)
        run.op("transform", lambda: merged.transform(df).write
               .format("noop").mode("overwrite").save(), rows=n)

    nominal_step_s = 15.0
    op_kind = ("fit",)  # op_cpu_s: BinningProcess+Scorecard fit, table()


class InteractiveRefit:
    """A modeller's interactive session on data already seen. Each step
    re-fits two OptimalBinning variables and one
    ContinuousOptimalBinning at the next point of a grid over
    monotonic_trend, max_n_bins, min_bin_size and max_pvalue (each
    followed by binning_table.build() and analysis()), one 4-variable
    BinningProcess (the narrow route) and one OptimalPWBinning (the
    piecewise QP). It then re-clusters a seeded document corpus with
    planted exact and near duplicates by ``duplicate_clusters``, once
    with the driver union-find closure and once with the distributed
    closure (``driver_threshold=0``)."""

    name = "interactive_refit"
    rows = 10_000
    TRENDS = {
        "ext_source_2": ["descending", "auto", "peak", "descending"],
        "days_employed": ["auto", "peak", "ascending", "valley"],
    }
    MAX_N_BINS = [6, None, 4, 8, 5]
    MIN_BIN_SIZE = [0.05, 0.02, 0.1, 0.03]
    MAX_PVALUE = [None, 0.05, 0.1]
    BP_VARS = ["ext_source_3", "amt_credit", "days_birth", "education"]
    docs_per_shard = 1_000
    n_doc_shards = 2

    def __init__(self, spark, seed):
        self.spark = spark
        self.seed = seed

    def generate(self, work, stats):
        self.path = os.path.join(work, "table.parquet")
        self.cols = gen.write_credit(self.path, self.seed * 100 + 50,
                                     self.rows, 0.0, stats)
        self.corpus_path = os.path.join(work, "corpus")
        self.corpus = gen.write_corpus(self.corpus_path, self.seed,
                                       self.n_doc_shards,
                                       self.docs_per_shard, stats)

    def step(self, i, run):
        from optbinning_spark import (BinningProcess,
                                      ContinuousOptimalBinning,
                                      OptimalBinning, OptimalPWBinning)
        from optbinning_spark.pipeline.dedup import duplicate_clusters

        df = _read(self.spark, self.path)
        cols = self.cols
        n = len(cols["y"])
        params = dict(max_n_bins=self.MAX_N_BINS[i % 5],
                      min_bin_size=self.MIN_BIN_SIZE[i % 4],
                      max_pvalue=self.MAX_PVALUE[i % 3])
        for x, trends in self.TRENDS.items():
            trend = trends[i % len(trends)]
            codes = CREDIT_SPECIALS.get(x)

            def fit(x=x, trend=trend, codes=codes):
                ob = OptimalBinning(monotonic_trend=trend,
                                    special_codes=codes, **params)
                ob.fit(df, x, "y")
                ob.binning_table.build()
                ob.binning_table.analysis()
                return ob

            run.op("refit", fit, rows=n, check=lambda ob, x=x, t=trend,
                   c=codes: checks.check_binary_binning(
                       ob, cols[x], cols["y"], c, t, f"step {i} {x}"))

        def fit_cont():
            cb = ContinuousOptimalBinning(
                monotonic_trend="ascending",
                max_n_bins=params["max_n_bins"],
                min_bin_size=params["min_bin_size"])
            cb.fit(df, "amt_income", "loss")
            cb.binning_table.build()
            cb.binning_table.analysis()
            return cb

        run.op("refit", fit_cont, rows=n,
               check=lambda cb: checks.check_continuous_binning(
                   cb, cols["amt_income"], cols["loss"], None,
                   f"step {i} continuous amt_income"))

        def fit_process():
            return BinningProcess(self.BP_VARS,
                                  categorical_variables=["education"],
                                  max_n_bins=params["max_n_bins"]).fit(df, "y")

        def check_process(bp):
            for v in self.BP_VARS:
                checks.check_binary_binning(
                    bp.get_binned_variable(v), cols[v], cols["y"], None,
                    "auto", f"step {i} process {v}")

        run.op("process_fit", fit_process, rows=n, check=check_process)

        def fit_pw():
            pw = OptimalPWBinning(objective="binary", degree=1,
                                  max_n_bins=params["max_n_bins"])
            pw.fit(df, "ext_source_3", "y")
            pw.binning_table.build()
            return pw

        run.op("pw_fit", fit_pw, rows=n,
               check=lambda pw: checks.check_binary_binning(
                   pw.inner_, cols["ext_source_3"], cols["y"], None, "auto",
                   f"step {i} piecewise knots"))

        docs = _read(self.spark, self.corpus_path)
        n_docs = len(self.corpus["doc_id"])
        for closure, threshold in (("dedup_driver", 1_000_000),
                                   ("dedup_dist", 0)):
            stats = {}

            def cluster(threshold=threshold, stats=stats):
                rows = duplicate_clusters(docs, driver_threshold=threshold,
                                          stats=stats).collect()
                return {r["doc_id"]: r["cluster_id"] for r in rows}

            run.op(closure, cluster, rows=n_docs, layer="dedup.clusters",
                   check=lambda c: checks.check_exact_duplicates(
                       self.corpus["doc_id"], self.corpus["text"], c))
            run.dedup_stats.append(stats)

    nominal_step_s = 12.0
    op_kind = ("refit",)  # op_cpu_s: one single-variable re-fit


WORKLOADS = {w.name: w for w in (CreditScorecard, InteractiveRefit)}
