"""Benchmark of the ETL/analytics engine: one workload per process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root, as the package runs there: Python
workers import ``ai_etl_pipeline_spark`` from the working directory, and
the benchmark adds nothing to their path. From another directory the ops
that ship Python code to the workers fail, and count as failed. Workloads:
etl_expense and registry; see perfbench/README.md for why each exists and
what it predicts.

One driver process on ``local[<cpus>]``. Set-up is process start to
session built. Then passes run back to back until ``--seconds`` have gone
by, with at least one timed pass; each pass issues its ops one after
another. The first pass is a cold one, as every run of a batch job is: it
pays JIT, code generation and Python worker start-up. Between passes, off
the clock, the benchmark reads the driver's live heap after a full GC,
counts the RDDs still persisted, clears every cache and checks every op's
output. ``--trace 1`` runs one untimed pass, then alternates traced and
untraced passes and reports per-layer figures instead of the end-to-end
ones.

Generated inputs, sink output and spans go to ``.bench_build/perfbench``
under the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A human report goes to
stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import spans
import workloads


def _seconds_since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS_START = time.perf_counter() - _seconds_since_process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``0 < q <= 1``."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(len(ordered) * q) - 1)]


class Runner:
    def __init__(self, spark, workload, counters):
        self.spark, self.wl, self.counters = spark, workload, counters
        self.sc = spark.sparkContext
        self.attempted = 0
        self.failures: list[str] = []
        self.leaked: list[int] = []

    def run_pass(self, tracer=None) -> dict:
        """One pass: ops back to back; checks and cache release after it."""
        ops = self.wl.next_pass()
        outputs, op_times = [], []
        j0, s0 = self.counters.next_job(), self.counters.next_stage()
        if tracer is not None:
            tracer.reset()
        t0 = time.perf_counter()
        for op in ops:
            a = time.perf_counter()
            root = tracer.open("op", op) if tracer is not None else None
            try:
                outputs.append((op, self.wl.run_op(self.spark, op, tracer), None))
            except Exception as e:  # an op that raises counts as failed, the run goes on
                first_line = (str(e).splitlines() or [""])[0]
                outputs.append((op, None, f"{type(e).__name__}: {first_line[:300]}"))
            finally:
                if root is not None:
                    tracer.close(root)
            op_times.append(time.perf_counter() - a)
        wall = time.perf_counter() - t0
        j1, s1 = self.counters.next_job(), self.counters.next_stage()
        # -- off the clock -------------------------------------------------
        live_heap = self.counters.live_heap_mb()
        persisted = self.sc._jsc.getPersistentRDDs()
        self.leaked.append(persisted.size())
        self.spark.catalog.clearCache()
        for rdd in list(persisted.values()):
            rdd.unpersist()
        for op, out, err in outputs:
            self.attempted += 1
            if err is None:
                try:
                    err = self.wl.check(op, out)
                except Exception as e:  # an output the checker cannot read is a failure
                    err = f"check raised {type(e).__name__}: {e}"
            if err is not None:
                self.failures.append(f"{op}: {err}")
        res = {"wall": wall, "ops": ops, "op_times": op_times, "jobs": j1 - j0,
               "live_heap_mb": live_heap,
               "shuffle_mb": spans.stage_totals(self.counters.stages(s0, s1))["shuffle_mb"]}
        if tracer is not None:
            res["layers"] = tracer.layer_table(j0, j1, s0, s1)
        return res


def self_test(name: str, seed: int) -> str | None:
    """Same seed, same inputs; another seed, other inputs."""
    a = workloads.inputs(name, seed)
    if workloads.inputs(name, seed) != a:
        return f"seed {seed} gave two different inputs"
    if all(workloads.inputs(name, seed + k) == a for k in range(1, 4)):
        return f"seeds {seed + 1}..{seed + 3} gave the same inputs as seed {seed}"
    return None


def main() -> int:
    args = parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "ai_etl_pipeline_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"no ai_etl_pipeline_spark/ and __spark_entry__.py in {ROOT}: "
              "perfbench/ must sit in the repository root", file=sys.stderr)
        return 2
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    })
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        return measure(args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def measure(args) -> int:
    from ai_etl_pipeline_spark.session import get_session
    from pyspark import SparkContext

    import __spark_entry__  # noqa: F401  (registry import is part of set-up)

    t = time.perf_counter()
    spark = get_session(f"perfbench-{args.workload}")
    t_session = time.perf_counter()
    session_s = t_session - t
    try:
        setup_s = t_session - T_PROCESS_START
        spark.sparkContext.setLogLevel("ERROR")
        counters = spans.SparkCounters(spark.sparkContext)
        # inputs and oracle signatures: off the clock
        work = os.path.join(WORK, args.workload)
        wl = workloads.make(args.workload, args.seed, work)
        wl.prepare(spark)
        runner = Runner(spark, wl, counters)
        tracer = spans.Tracer(counters) if args.trace else None
        if tracer is not None:
            runner.run_pass()  # untimed: traced and untraced passes then compare warm
        plain, traced = [], []
        t_end = time.perf_counter() + args.seconds
        # with tracing, each traced pass is followed by an untraced one; the
        # untraced pass is the warmer of the two, so overhead is not understated
        while True:
            if tracer is not None and len(traced) == len(plain):
                tracer.install()
                try:
                    traced.append(runner.run_pass(tracer))
                finally:
                    tracer.uninstall()
            else:
                plain.append(runner.run_pass())
            if plain and len(plain) >= len(traced) and time.perf_counter() >= t_end:
                break
        peak_rss = counters.peak_rss_mb()
        if tracer is not None:
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()

    err = self_test(args.workload, args.seed)
    runner.attempted += 1
    if err is not None:
        runner.failures.append(f"self-test: {err}")
    ops = [x for p in plain for x in p["op_times"]]
    run_s = [p["wall"] for p in plain]
    failed = len(runner.failures)
    attempted = runner.attempted
    report = [f"# {args.workload} seed={args.seed}: {len(plain)} timed passes, "
              f"{len(traced)} traced, {attempted} ops checked, {failed} failed"]
    report += [f"#   FAILED {f}" for f in runner.failures]
    q1, _, q3 = statistics.quantiles(run_s, n=4) if len(run_s) > 1 else (run_s[0],) * 3
    p90 = percentile(ops, 0.9)
    beyond = sum(x > p90 for x in ops)
    report.append(f"#   run_s median {statistics.median(run_s):.3f} (q1 {q1:.3f}, q3 {q3:.3f}); "
                  f"op p50 {statistics.median(ops):.3f} s over {len(ops)} ops; op p90 {p90:.3f} s "
                  f"with {beyond} samples beyond it"
                  + ("" if beyond >= 10 else " (fewer than 10: not a reported figure)"))
    report.append("#   first timed pass: " + " ".join(
        f"{op}={t:.2f}" for op, t in zip(plain[0]["ops"], plain[0]["op_times"])))
    report.append(f"#   fail_frac {failed / attempted:.4f}; leaked_rdds per pass {runner.leaked}; "
                  f"get_session {session_s:.3f} s; peak RSS {peak_rss:.0f} MB")
    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "run_s": (statistics.median(run_s), "s"),
            "op_geomean_s": (statistics.geometric_mean(ops), "s"),
            "ok_frac": (1 - failed / attempted, "ratio"),
            "jobs_per_run": (statistics.median(p["jobs"] for p in plain), "count"),
            "shuffle_mb_per_run": (statistics.median(p["shuffle_mb"] for p in plain), "MB"),
            "heap_live_mb": (statistics.median(p["live_heap_mb"] for p in plain), "MB"),
        }
    else:
        metrics = layer_metrics(traced, plain, runner.leaked, session_s, tracer, report)
    print("\n".join(report), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(traced, plain, leaked, session_s, tracer, report) -> dict:
    """Per-layer figures, averaged over the traced passes."""
    n = len(traced)
    units = {"self_s": "s", "jobs": "count", "task_s": "s", "shuffle_mb": "MB"}
    out = {}
    for layer in spans.LAYERS:
        for m, unit in units.items():
            out[f"{layer}.{m}"] = (sum(p["layers"]["layers"][layer][m] for p in traced) / n, unit)
    out["session.self_s"] = (session_s, "s")
    tot = lambda k: sum(p["layers"][k] for p in traced)  # noqa: E731
    jobs = tot("jobs")
    t_run = statistics.median(p["wall"] for p in traced)
    out.update({
        "spill_mb": (tot("spill_mb") / n, "MB"),
        "failed_tasks": (tot("failed_tasks") / n, "count"),
        "build_job_frac": ((jobs - tot("final_jobs")) / jobs if jobs else 0.0, "ratio"),
        "enrich.translated_frac": (
            tracer.values_changed / tracer.values_sent if tracer.values_sent else 0.0, "ratio"),
        "leaked_rdds": (statistics.mean(leaked), "count"),
        "trace_overhead_frac": (t_run / statistics.median(p["wall"] for p in plain) - 1, "ratio"),
        "span_cover_frac": (
            sum(v for k, (v, _) in out.items() if k.endswith(".self_s") and k != "session.self_s")
            / t_run, "ratio"),
    })
    report.append(f"#   traced run_s {t_run:.3f}; unattributed jobs {tot('unattributed_jobs')}")
    report.append(f"#   {'layer':<22}{'self_s':>9}{'jobs':>7}{'task_s':>9}{'shuffle_mb':>11}")
    for layer in spans.LAYERS:
        row = [out[f"{layer}.{m}"][0] for m in units]
        if any(row):
            report.append(f"#   {layer:<22}{row[0]:>9.3f}{row[1]:>7.1f}{row[2]:>9.3f}{row[3]:>11.3f}")
    report += [f"#   {k} {out[k][0]:.4f}" for k in (
        "build_job_frac", "enrich.translated_frac", "leaked_rdds", "trace_overhead_frac",
        "span_cover_frac", "spill_mb", "failed_tasks")]
    return out


if __name__ == "__main__":
    sys.exit(main())
