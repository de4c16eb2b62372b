"""Benchmark entry point.

    python3 perfbench/run.py --workload index_read --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Runs one workload (see README.md) as a
closed loop from one client on ``local[nproc]``, checks its outputs, and
prints two JSON lines on stdout:

1. the workload's detailed record: every metric that applies to it by
   name and unit, each correctness check by name, the host stamp (nproc,
   loadavg at start and end, steal time during the run) and, with
   ``--trace 1``, the per-layer numbers;
2. the summary ``{"correct", "attempted", "failed", "metrics"}``, whose
   metrics are the ``end_to_end`` list of BENCHMARK.json (``--trace 0``)
   or its ``per_layer`` list (``--trace 1``).

Nothing else reaches stdout: Spark, the JVM and the Python workers write to
stderr. Every file the run writes lives under ``.bench_build/perfbench/`` in
the checkout: the per-run store, Spark warehouse, Spark local dirs, temp
files and one-time cache go to a per-run directory that is removed at the
end; the results and spans of each run are kept under ``results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _declared() -> tuple[dict, dict]:
    """(end_to_end, per_layer) of BENCHMARK.json as {name: unit}: the
    summary line carries exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> list[float]:
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = open(f"/proc/{d}/stat").read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident sets (VmHWM) of this process and all its
    descendants: the Spark driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            for line in open(f"/proc/{pid}/status"):
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    live descendants."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            stat = open(f"/proc/{pid}/stat").read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list[int]:
    """The machine's cpu line of /proc/stat: user .. steal, in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _isolate(work: str, cpus: int) -> None:
    """Environment for the session, set before the JVM starts: every
    directory Spark, the JVM and Python write to lives under ``work``."""
    for sub in ("tmp", "local", "warehouse", "onetime", "conf"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    with open(os.path.join(work, "conf", "spark-defaults.conf"), "w") as fh:
        fh.write(f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}\n")
        fh.write(f"spark.local.dir {os.path.join(work, 'local')}\n")
        fh.write(f"spark.driver.extraJavaOptions {java_opts}\n")
        fh.write("spark.ui.retainedJobs 100000\n")
        fh.write("spark.ui.retainedStages 100000\n")
        fh.write("spark.sql.ui.retainedExecutions 100000\n")
    os.environ.update(
        {
            "SPARK_CONF_DIR": os.path.join(work, "conf"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": java_opts,
            # the repository's warm one-time cache must never leak in
            "TAGTREE_ONETIME_CACHE": os.path.join(work, "onetime"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)


def _stop(spark) -> None:
    """Stop the session, then the JVM, then wait for every descendant."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class Run:
    """What a workload gets: the session, its work dir, the tracer (None
    in the untraced run) and helpers to tag Spark jobs with an op."""

    def __init__(self, spark, work: str, tracer, t_start: float, t_session: float):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.t_start = t_start  # process start
        self.t_session = t_session  # Spark session ready
        self.catalyst: dict[str, float] = {}
        self._open = None

    def group(self, op, phase: str, label: str = "") -> None:
        """Start ``phase`` ("build" or "action") of timed op ``op``: tag the
        Spark jobs that follow with it and open the span ``label.phase``,
        closing the previous phase's span. ``op`` None ends the op."""
        if self.tracer is None:
            return
        if self._open is not None:
            self.tracer.end(self._open)
            self._open = None
        self.tracer.op = op
        if op is None:
            self.spark.sparkContext.setJobGroup("pb:setup", "pb:setup")
            return
        g = f"pb:{op}:{phase}"
        self.spark.sparkContext.setJobGroup(g, g)
        self._open = self.tracer.begin(f"{label}.{phase}")

    def add_catalyst(self, df, force_plan: bool = False) -> None:
        if self.tracer is None or df is None:
            return
        from spans import catalyst_ms

        for k, v in catalyst_ms(df, force_plan).items():
            self.catalyst[k] = self.catalyst.get(k, 0.0) + v


def _layers(run: Run, res: dict) -> tuple[dict, dict]:
    """(per_layer metrics for the summary line, detailed layer record)."""
    from spans import job_groups, spark_totals, cached_mb

    tr = run.tracer
    ops = set(res["timed_ops"])
    n = max(len(ops), 1)
    total, own, calls = tr.totals(ops)
    groups = job_groups(run.spark)

    def op_of(g: str):
        parts = g.split(":")
        return int(parts[1]) if len(parts) == 3 and parts[0] == "pb" else None

    timed_jobs = [j for g, js in groups.items() if op_of(g) in ops for j in js]
    build_jobs = [j for g, js in groups.items() if g.endswith(":build") and op_of(g) in ops for j in js]
    sp = spark_totals(run.spark, timed_jobs)
    per = {
        "entry.build_ms": statistics.fmean(res["build_ms"]),
        "entry.action_ms": statistics.fmean(res["action_ms"]),
        "entry.build_jobs": len(build_jobs) / n,
        "tsdb.matchers.resolve_ms": total.get("tsdb.matchers.resolve", 0.0) / n,
        "tsdb.exprlang.evaluate_ms": total.get("tsdb.exprlang.evaluate", 0.0) / n,
        "traced.op_mean_ms": statistics.fmean(res["lat_ms"]),
    }
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "worker_gap_s",
              "shuffle_read_mb", "shuffle_write_mb", "gc_s"):
        per[f"spark.{k}"] = sp[k] / n
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        per[f"spark.{k}"] = run.catalyst.get(k, 0.0) / n
    detail = {
        "ops": len(ops),
        "spark_per_op": {k: v / n for k, v in sp.items()},
        "spark_total": sp,
        "span_ms_per_op": {k: v / n for k, v in sorted(total.items())},
        "self_ms_per_op": {k: v / n for k, v in sorted(own.items())},
        "calls": dict(sorted(calls.items())),
        "counts": dict(sorted(tr.counts.items())),
        "session.cached_mb": cached_mb(run.spark),
    }
    # setup-phase spans (op None): what set-up spent in each layer
    s_total, s_own, _ = tr.totals({None})
    detail["setup_span_ms"] = {k: v for k, v in sorted(s_total.items())}
    return per, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    end_to_end, per_layer = _declared()

    if not (os.path.isdir(os.path.join(ROOT, "tagtree_spark")) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no tagtree_spark program under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import index
    import suite

    workloads = {
        "index_read": index.index_read,
        "index_ingest": index.index_ingest,
        "query_suite": suite.query_suite,
    }
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads)}", file=sys.stderr)
        return 2

    # stdout carries the result lines only: everything else, including
    # output of the JVM and worker processes, goes to stderr
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    cpus = _nproc()
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, cpus)
    host = {"nproc": cpus, "loadavg_start": _loadavg()}
    cpu_start = _cpu_times()

    from tagtree_spark.session import get_spark

    spark = get_spark("perfbench")
    t_session = time.perf_counter()
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()
    run = Run(spark, work, tracer, t_start, t_session)
    try:
        res = workloads[args.workload](run, args.seed, args.seconds)
        rss = peak_rss_mb()
        if tracer is not None:
            per, layer_detail = _layers(run, res)
    finally:
        if tracer is not None:
            tracer.uninstall()
        _stop(spark)
        host["loadavg_end"] = _loadavg()
        # share of the machine's CPU time the hypervisor gave to others
        # during the run: a high figure marks a run slowed from outside
        delta = [b - a for a, b in zip(cpu_start, _cpu_times())]
        host["steal_pct"] = 100.0 * delta[7] / max(sum(delta), 1)

    lat = res["lat_ms"]
    e2e = {
        "setup_s": res["setup_s"],
        "cpu_ms_per_op": 1e3 * res["window_cpu_s"] / len(res["timed_ops"]),
        "peak_rss_mb": rss,
    }
    failed = res["failed"]
    attempted = res["attempted"]
    detail_metrics = {k: {"value": v, "unit": end_to_end[k]} for k, v in e2e.items()}
    detail_metrics["op_mean_ms"] = {"value": statistics.fmean(lat), "unit": "ms"}
    detail_metrics["op_p50_ms"] = {"value": percentile(lat, 50), "unit": "ms"}
    detail_metrics["op_p90_ms"] = {"value": percentile(lat, 90), "unit": "ms"}
    detail_metrics["ops_per_s"] = {"value": len(res["timed_ops"]) / res["window_s"], "unit": "1/s"}
    detail_metrics.update({k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()})
    detail_metrics["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "params": res.get("params", {}),
        "setup_phases": res.get("setup_phases"),
        "samples": len(lat),
        "metrics": detail_metrics,
        "checks": res["checks"],
        "ops": res.get("ops"),
    }
    if tracer is not None:
        detail["layers"] = layer_detail
        detail["layers"].update(res.get("layer_detail", {}))
        metrics = {k: {"value": per[k], "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}

    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if tracer is not None:
        tracer.write(stem + ".spans.jsonl")
        # tracing overhead: this run's end-to-end numbers minus those of the
        # untraced run of the same workload and seed, when one was kept
        try:
            with open(f"{stem[:-1]}0.json") as fh:
                plain = json.load(fh)["metrics"]
            detail["tracing_overhead"] = {
                k: {"value": detail_metrics[k]["value"] - plain[k]["value"], "unit": plain[k]["unit"]}
                for k in ("op_mean_ms", *end_to_end)
            }
        except (OSError, KeyError, ValueError):
            detail["tracing_overhead"] = None
    with open(stem + ".json", "w") as fh:
        json.dump(detail, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    summary = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    out.write(json.dumps(detail) + "\n")
    out.write(json.dumps(summary) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
