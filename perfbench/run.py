"""Seeded benchmark of the optimal-binning engine's lifecycle.

Run from the repository root:

    python3 perfbench/run.py --workload credit_scorecard --seed 1 \
        --seconds 15 --trace 0

One closed-loop client (each call waits for its result) drives a
``local[nproc]`` session. The run starts the session, generates the
workload's inputs from the seed, runs one untimed warm-up step, then
runs as many steps as fit in about ``--seconds`` and checks every
output.
The last line of standard output is one JSON object: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run (see perfbench/README.md). Everything else goes to standard
error.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
GEN_REPEATS = 3


def host_setup(work: Path):
    """Session environment, set before pyspark starts the JVM."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    ram_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, int(ram_gb // 4)))}g"
    # Python workers (the dedup mapInArrow kernel) import the engine
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # a fixed set of JIT compiler threads, so cpu_s can leave them
    # out exactly
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                 " -XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])
    return cpus


class Runner:
    """Times operations; in a traced run each operation is one phase."""

    def __init__(self, tracer=None, jvm_pid=None):
        self.tracer = tracer
        self.jvm_pid = jvm_pid
        self.step_cpu = []
        self.times = defaultdict(list)
        self.cpu = defaultdict(list)
        self.rows = defaultdict(int)
        self.attempted = 0
        self.failed = 0
        self.dedup_stats = []
        self.sketch_memory = 0
        self.sketch_adds = 0

    def op(self, kind, fn, rows=0, check=None, layer=None, sketch_adds=0):
        self.attempted += 1
        tr = self.tracer
        if tr is not None:
            tr.begin_phase(kind)
        c0 = cpu_s(self.jvm_pid) if self.jvm_pid else 0.0
        t0 = time.perf_counter()
        try:
            if tr is not None and layer:
                with tr.span(kind, layer):
                    out = fn()
            else:
                out = fn()
        finally:
            dt = time.perf_counter() - t0
            if self.jvm_pid:
                self.cpu[kind].append(cpu_s(self.jvm_pid) - c0)
            if tr is not None:
                tr.end_phase()
        self.times[kind].append(dt)
        self.rows[kind] += rows
        self.sketch_adds += sketch_adds
        if check is not None:
            check(out)
        return out

    def run_step(self, wl, i) -> float:
        """Run one step; returns its wall time and records the CPU its
        operations used (output checks excluded)."""
        c0 = sum(sum(v) for v in self.cpu.values())
        t0 = time.perf_counter()
        try:
            wl.step(i, self)
        except Exception:
            self.failed += 1
            print(f"[perfbench] step {i} failed:", file=sys.stderr)
            traceback.print_exc()
        wall = time.perf_counter() - t0
        self.step_cpu.append(sum(sum(v) for v in self.cpu.values()) - c0)
        return wall


_TCK = os.sysconf("SC_CLK_TCK")


def _stat(path):
    with open(path) as fh:
        s = fh.read()
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()


def cpu_s(jvm_pid: int, jit: bool = False) -> float:
    """CPU seconds spent so far by this Python process, the driver JVM
    (every thread, ended ones too, GC included) and the JVM's
    descendants (the Python workers). With ``jit=False`` the JVM's JIT
    compiler threads are left out: their load after the warm-up is
    the runtime's, not the work's. The JVM runs with a fixed set of
    compiler threads (see ``host_setup``), so subtracting the live
    ones is exact."""
    t = os.times()
    total = t.user + t.system
    # utime, stime and the times of reaped children
    _, f = _stat(f"/proc/{jvm_pid}/stat")
    total += sum(int(x) for x in f[11:15]) / _TCK
    if not jit:
        for path in Path(f"/proc/{jvm_pid}/task").glob("*/stat"):
            try:
                comm, f = _stat(path)
            except (OSError, ValueError):  # thread ended
                continue
            if "Compiler" in comm:  # "C2 CompilerThre" (15 chars)
                total -= (int(f[11]) + int(f[12])) / _TCK
    children = defaultdict(list)  # ppid -> [(pid, fields)]
    for path in Path("/proc").glob("[0-9]*/stat"):
        try:
            _, f = _stat(path)
        except (OSError, ValueError):  # process ended
            continue
        children[int(f[1])].append((int(path.parent.name), f))
    todo = [jvm_pid]
    while todo:
        for pid, f in children.get(todo.pop(), []):
            total += sum(int(x) for x in f[11:15]) / _TCK
            todo.append(pid)
    return total


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM
    (in local mode the executors run inside the JVM)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def tail(samples):
    """Highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None, n
    q = 1.0 - 10.0 / n
    return float(sorted(samples)[int(q * (n - 1))]), n


def stop_spark(spark):
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # stdout carries only the result line; everything the engine, the
    # JVM and the Python workers print goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)

    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    # the engine is imported first: without it the run fails before it
    # creates anything
    from optbinning_spark import get_spark

    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from "
                         f"{sorted(workloads.WORKLOADS)}")
    work = ROOT / ".perfbench_work" / (
        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        cpus = host_setup(work)
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=cpus)
        session_s = time.perf_counter() - t0
        # interpreter start, imports and the JVM launch
        session_cpu = cpu_s(spark.sparkContext._gateway.proc.pid, jit=True)
        try:
            out = run_workload(args, spark, work, (session_s, session_cpu),
                               gen, workloads)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.write(result_fd, (json.dumps(out) + "\n").encode())
    return 0


def run_workload(args, spark, work, session, gen, workloads):
    session_s, session_cpu = session
    jvm_pid = spark.sparkContext._gateway.proc.pid
    wl = workloads.WORKLOADS[args.workload](spark, args.seed)
    # inputs are generated GEN_REPEATS times (same seed, same files);
    # set-up counts the median generation
    gen_times, gen_cpu = [], []
    for k in range(GEN_REPEATS):
        stats = gen.GenStats()
        d = work / f"inputs{k}"
        d.mkdir(parents=True)
        c0 = time.process_time()
        wl.generate(str(d), stats)
        gen_cpu.append(time.process_time() - c0)
        gen_times.append(stats.seconds)
        if k:
            shutil.rmtree(work / f"inputs{k - 1}")
    gen_s = statistics.median(gen_times)

    setup_runner = Runner()
    c0 = cpu_s(jvm_pid, jit=True)
    warmup_s = setup_runner.run_step(wl, 0)
    warmup_cpu = cpu_s(jvm_pid, jit=True) - c0
    setup = {"setup_s": session_cpu + statistics.median(gen_cpu) + warmup_cpu,
             "setup_wall_s": session_s + gen_s + warmup_s}
    print(f"[perfbench] {wl.name} seed={args.seed}: session {session_s:.2f}s"
          f" ({session_cpu:.2f} CPU s), inputs {gen_s:.2f}s ({stats.rows}"
          f" rows, {stats.bytes} bytes), warm-up {warmup_s:.2f}s"
          f" ({warmup_cpu:.2f} CPU s)", file=sys.stderr)

    if args.trace:
        metrics, runners = traced_run(wl, spark, args, stats, session_s)
    else:
        # closed loop with a fixed amount of work per run: as many
        # steps as the workload's nominal step time fits in --seconds,
        # so every run measures equally warm steps
        runner = Runner(jvm_pid=jvm_pid)
        n_steps = max(1, round(args.seconds / wl.nominal_step_s))
        walls = [runner.run_step(wl, i) for i in range(1, n_steps + 1)]
        runners = [runner]
        metrics = end_to_end(wl, runner, walls, setup, spark)
    attempted = sum(r.attempted for r in [setup_runner] + runners)
    failed = sum(r.failed for r in [setup_runner] + runners)
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def end_to_end(wl, runner, walls, setup, spark):
    """The gated metrics: CPU seconds of the set-up and of one step.
    Wall-clock times swing far more between runs on a shared host than
    CPU seconds do, so they are printed by ``report``, ungated."""
    m = {
        "setup_s": (setup["setup_s"], "s"),
        "work_cpu_s": (statistics.median(runner.step_cpu), "s"),
    }
    report(wl, runner, walls, m, spark, setup["setup_wall_s"])
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def report(wl, runner, walls, m, spark, setup_wall_s):
    """Human-readable summary on stderr: the gated metrics, then
    ungated ones: CPU of the main operation, memory, and the
    workload's wall-clock numbers under their own names."""
    t, rows = runner.times, runner.rows

    # an operation that raised records no time: its figure reads n/a
    def med(xs):
        return statistics.median(xs) if xs else None

    def rate(n, secs):
        return n / sum(secs) if secs else None

    named = {"op_cpu_s": (med([x for k in wl.op_kind
                               for x in runner.cpu[k]]), "s"),
             "peak_rss_mb": (peak_rss_mb(spark), "MB"),
             "setup_wall_s": (setup_wall_s, "s"),
             "step_s": (med(walls), "s")}
    if wl.name == "credit_scorecard":
        named.update({
            "fit_s": (med(t["fit"]), "s"),
            "score_rows_per_s": (rate(rows["score"], t["score"]), "rows/s"),
            "monitor_s": (med(t["monitor"]), "s"),
            "add_rows_per_s": (rate(rows["add"], t["add"]), "rows/s"),
            "solve_p50_s": (med(t["solve"]), "s")})
    elif wl.name == "interactive_refit":
        v, n = tail(t["refit"])
        named.update({
            "refit_p50_s": (med(t["refit"]), "s"),
            f"refit_tail_s (n={n})": (v, "s"),
            "dedup_docs_per_s": (rate(
                rows["dedup_driver"] + rows["dedup_dist"],
                t["dedup_driver"] + t["dedup_dist"]), "docs/s")})
    named["failed_frac"] = (runner.failed / max(runner.attempted, 1), "ratio")
    lines = [f"[perfbench] {wl.name}: {len(walls)} steps, "
             f"{runner.attempted} ops, {runner.failed} failed"]
    for kind, xs in runner.cpu.items():
        named[f"cpu_s[{kind}]"] = (med(xs), "s")
    for k, (v, u) in list(m.items()) + list(named.items()):
        val = "n/a" if v is None else f"{v:.6g}"
        lines.append(f"  {k:<28} {val:>14} {u}")
    print("\n".join(lines), file=sys.stderr)


def traced_run(wl, spark, args, stats, session_s):
    """Run the first measured step twice: traced, then untraced from the
    same workload state, so the tracing overhead is traced wall minus
    untraced wall over the same work. The traced copy is the less warm
    one, so the overhead errs high."""
    import tracer as T

    tracer = T.Tracer(spark)
    tracer.install()
    plain, traced = Runner(), Runner(tracer)
    state = wl.snapshot() if hasattr(wl, "snapshot") else None
    traced_s = traced.run_step(wl, 1)
    tracer.harvest()
    if state is not None:
        wl.restore(state)
    plain_s = plain.run_step(wl, 1)
    overhead = traced_s - plain_s

    m, lines = T.layer_metrics(tracer, traced.sketch_adds)
    m["session.start_s"] = session_s
    m["data.gen_s"] = stats.seconds
    m["data.rows"] = stats.rows
    m["data.bytes"] = stats.bytes
    m["sketch.memory_bytes"] = traced.sketch_memory
    m["dedup.cc_rounds"] = sum(s.get("rounds", 0) for s in traced.dedup_stats)
    m["dedup.cc_edges"] = sum(s.get("edges", 0) for s in traced.dedup_stats)
    m["trace.overhead_s"] = overhead
    m["memory.peak_rss_mb"] = peak_rss_mb(spark)

    sites = T.fit_job_sites(tracer)
    out = [f"[perfbench] traced {wl.name} seed={args.seed}: "
           f"traced step {traced_s:.3f}s, untraced step {plain_s:.3f}s, "
           f"overhead {overhead:.3f}s",
           *lines]
    if sites:
        out.append("  jobs of the first OptimalBinning.fit:")
        out += [f"    job {j}: {site} ({ns} stages, {d:.3f}s)"
                for j, site, ns, d in sites]
    out += [f"  {k:<30} {v:.6g}" for k, v in m.items()]
    print("\n".join(out), file=sys.stderr)

    trace_dir = ROOT / ".perfbench_work" / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    tracer.dump(str(trace_dir / f"{wl.name}-seed{args.seed}.json"),
                {"workload": wl.name, "seed": args.seed,
                 "overhead_s": overhead})
    units = _units()
    metrics = {k: {"value": v, "unit": units[k]} for k, v in m.items()}
    return metrics, [plain, traced]


def _units() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {x["name"]: x["unit"] for x in spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
