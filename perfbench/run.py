"""Repository benchmark: one closed-loop client driving the engine on local[nproc/2].

Run from the repository root:

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 10 --trace 0

A run builds its inputs from the seed, reads the JVM's class path once so
that the disk is not timed, sets up one session in a fresh JVM
(``setup_s``), runs one cold pass of the workload's job list and then warm
passes (the job order of every pass is a seeded permutation)
until the workload's ``warm_passes`` and ``--seconds`` of warm jobs are
done.  Every job's output is checked outside its timed window.  The last
line of stdout is one JSON object; ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones from a traced warm pass.  The
exit code is non-zero when any job failed or its output was wrong.
See DESIGN.md for the choice of workloads and metrics.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

from collect import Collector, RssSampler, Tracer, process_tree, python_node_count, storage
from workloads import WORKLOADS

MIN_TAIL_BEYOND = 10
MB = 2**20
T0 = time.perf_counter()
# counters that read zero on a healthy run of either workload: printed, not reported
ZERO_HERE = {
    "exec.failed_tasks": "no task fails on a healthy run",
    "spill.memory_bytes": "nothing spills at sf0.1 with a 2g heap",
    "spill.disk_bytes": "nothing spills at sf0.1 with a 2g heap",
    "shuffle.fetch_wait_s": "local mode reads shuffle blocks in-process",
    "cache.persisted_rdds": "no job persists anything; the leak guard checks it",
    "cache.storage_bytes": "no job persists anything; the leak guard checks it",
}
# spans below session.start, each reported with its self time
SPAN_NAMES = ("pass", "job", "plan.construct", "exec.action", "sink.write", "verify", "matrix.decode")


def log(msg: str) -> None:
    """Progress on stderr, with seconds since the process started."""
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it and its Python
    workers to exit: the gateway JVM quits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


def warm_page_cache() -> float:
    """Read the JVM's runtime image and Spark's jars once, before anything
    is timed, so that set-up and the cold pass time class loading and not
    the disk.  Returns the seconds the reads took."""
    import pyspark

    t0 = time.perf_counter()
    files = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "*.jar"))
    java = shutil.which("java")
    if java:
        files.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(java))), "lib", "modules"))
    for path in files:
        try:
            with open(path, "rb", buffering=0) as f:
                while f.read(1 << 22):
                    pass
        except OSError:
            pass
    return time.perf_counter() - t0


def _beta_cf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1 + num * d
            d = 1 / (d if abs(d) > tiny else tiny)
            c = 1 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1) < 1e-13:
            break
    return h


def beta_cdf(a: float, b: float, x: float) -> float:
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0 or x >= 1:
        return 0.0 if x <= 0 else 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1) / (a + b + 2):
        return front * _beta_cf(a, b, x) / a
    return 1 - front * _beta_cf(b, a, 1 - x) / b


def harrell_davis(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile of sorted ``xs``: a mean of all
    order statistics weighted by a beta density around rank p*n, so that
    one job crossing the rank cannot make the estimate jump."""
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def job_tail(times: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) for the highest percentile with
    ``MIN_TAIL_BEYOND`` samples beyond it, estimated by Harrell-Davis.  When
    that percentile would not lie above the median (too few samples), the
    slowest job is reported, with zero beyond it."""
    xs = sorted(times)
    if len(xs) <= 2 * MIN_TAIL_BEYOND:
        return xs[-1], 100.0, 0
    p = (len(xs) - MIN_TAIL_BEYOND) / len(xs)
    return harrell_davis(xs, p), 100.0 * p, MIN_TAIL_BEYOND


def cpu_steal_s() -> float:
    """Seconds the hypervisor ran something else on this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def provenance(root: str, args, phase: str) -> dict:
    info = {f"loadavg_1m_{phase}": os.getloadavg()[0], f"cpu_steal_s_{phase}": cpu_steal_s()}
    if phase == "end":
        return info
    import numpy
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        sha = None
    src = hashlib.sha256()
    pkg = os.path.join(root, "emulating_hadoop_with_mpi_spark")
    for dirpath, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    src.update(fh.read())
    info.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace, sf=0.1,
        nproc=len(os.sched_getaffinity(0)), spark_graft_cpus=os.environ.get("SPARK_GRAFT_CPUS"),
        driver_mem=os.environ.get("SPARK_GRAFT_DRIVER_MEM"), git_sha=sha,
        package_sha256=src.hexdigest(), python=sys.version.split()[0], pyspark=pyspark.__version__,
        pyarrow=pyarrow.__version__, numpy=numpy.__version__,
    )
    return info


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.wl = WORKLOADS[args.workload](run_dir, args.seed)  # inputs and oracle: not timed
        self.conf = {
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def run(self) -> dict:
        from emulating_hadoop_with_mpi_spark.session import get_spark

        tracer, untraced = Tracer(bool(self.args.trace)), Tracer(False)
        with RssSampler() as rss:
            # set-up as a user meets it: JVM launch, session, inputs registered
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = get_spark(app_name=f"perfbench-{self.wl.name}", extra_conf=self.conf)
            session_s = time.perf_counter() - t0
            self.wl.register(spark)
            setup_s = time.perf_counter() - t0
            log(f"set-up done: {setup_s:.2f} s")
            collector = Collector(spark) if self.args.trace else None
            if collector:
                tracer.probe = collector.probe
            rng = random.Random(self.args.seed)
            passes = []
            try:
                while True:
                    p = len(passes)
                    warm = [q for q in passes if q["pass"] > 0 and not q["traced"]]
                    warm_done = len(warm) >= self.wl.warm_passes and sum(q["wall_s"] for q in warm) >= self.args.seconds
                    if warm_done and (collector is None or passes[-1]["traced"]):
                        break
                    order = list(self.wl.jobs)
                    rng.shuffle(order)
                    # a traced run adds one traced pass after its untraced warm passes
                    traced = collector is not None and warm_done
                    passes.append(self._pass(spark, p, order, tracer if traced else untraced,
                                             collector if traced else None))
                    log(f"pass {p} done: {passes[-1]['wall_s']:.2f} s")
                spark_version = spark.version
            finally:
                spark.stop()
                stop_jvm()
        return {"setup_s": setup_s, "session_s": session_s, "passes": passes, "peak_rss": rss.peak,
                "rss_driver_field": rss.driver_field, "tracer": tracer, "collector": collector,
                "spark": spark_version}

    def _pass(self, spark, p, order, tracer, collector) -> dict:
        sc = spark.sparkContext
        wl = self.wl
        steal = cpu_steal_s()
        t_pass = time.perf_counter()
        outside = 0.0  # output checks and counter reads, excluded from the window
        jobs = []
        with tracer.span("pass", f"{wl.name}/{p}"):
            for job in order:
                group = f"{wl.name}/{job}/{p}"
                sc.setJobGroup(group, group)
                rec = {"pass": p, "job": job, "ok": False, "error": None}
                t0 = time.perf_counter()
                try:
                    with tracer.span("job", group):
                        df, rows = wl.run(spark, job, tracer)
                    rec["s"] = time.perf_counter() - t0
                except Exception as e:  # a failed job is counted, and the loop goes on
                    rec["s"], rec["error"], df = time.perf_counter() - t0, repr(e)[:500], None
                t1 = time.perf_counter()
                if df is not None:
                    with tracer.span("verify", group):
                        rec["ok"] = wl.check(job, df, rows)
                    rec["input_rows"] = wl.input_rows(job, df)
                    if collector:
                        rec["layer"] = self._layer(spark, collector, tracer, group, job, df)
                outside += time.perf_counter() - t1
                jobs.append(rec)
            t1 = time.perf_counter()
            store = storage(sc)
            outside += time.perf_counter() - t1
        wall = time.perf_counter() - t_pass - outside
        return {"pass": p, "jobs": jobs, "wall_s": wall, "steal_s": cpu_steal_s() - steal,
                "storage": store, "traced": collector is not None}

    def _layer(self, spark, collector, tracer, group, job, df) -> dict:
        """Counters for one traced job, read after it finished."""
        from emulating_hadoop_with_mpi_spark.plans.inspect import executed_plan, shuffle_count

        by_name = {s["name"]: s for s in tracer.spans if s["job"] == group}
        construct, whole = by_name["plan.construct"], by_name["job"]
        counters, durations = collector.counters(collector.job_ids(group))
        plan = executed_plan(df)
        return {"counters": counters, "task_s": durations,
                "construct_jobs": construct["probe_end"]["spark_jobs"] - construct["probe_start"]["spark_jobs"],
                "exchanges": shuffle_count(df), "python_nodes": python_node_count(plan),
                "proc_start": whole["probe_start"]["proc"], "proc_end": whole["probe_end"]["proc"],
                **self.wl.trace_job(spark, job, plan, tracer)}


def end_to_end(res: dict) -> tuple[dict, dict]:
    passes = res["passes"]
    warm = [p for p in passes if p["pass"] > 0 and not p["traced"]]
    times = [j["s"] for p in warm for j in p["jobs"]]
    tail, pct, beyond = job_tail(times)
    window = sum(p["wall_s"] for p in warm)
    rows = sum(j.get("input_rows", 0) for p in warm for j in p["jobs"])
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "job_s_p50": (harrell_davis(sorted(times), 0.5), "s"),
        "job_s_tail": (tail, "s"),
        "input_rows_per_s": (rows / window, "rows/s"),
        "peak_rss_mb": (res["peak_rss"] / MB, "MB"),
    }
    notes = {
        "setup_s": f"JVM launch and get_spark() {res['session_s']:.3f} s, then inputs registered",
        "job_s_p50": f"Harrell-Davis median of {len(times)} warm jobs in {len(warm)} passes",
        "job_s_tail": (f"p{pct:.2f} of {len(times)} warm jobs (Harrell-Davis), {beyond} beyond it"
                       if beyond else f"slowest of {len(times)} warm jobs (p100.00), 0 beyond it"),
        "input_rows_per_s": f"{rows} input rows / {window:.3f} s warm window",
        "peak_rss_mb": f"driver {res['rss_driver_field']} from set-up on, JVM and workers VmHWM",
    }
    return metrics, notes


def per_layer(res: dict, wl, cores: int) -> tuple[dict, dict, dict]:
    passes, tracer, collector = res["passes"], res["tracer"], res["collector"]
    traced = [p for p in passes if p["traced"]]
    twin = [p for p in passes if p["pass"] > 0 and not p["traced"]]
    n = len(traced)
    jobs = [j for p in traced for j in p["jobs"] if "layer" in j]
    layers = [j["layer"] for j in jobs]
    sums: dict[str, float] = {}
    for lay in layers:
        for k, v in lay["counters"].items():
            sums[k] = sums.get(k, 0.0) + v
    span_s: dict[str, float] = {}
    for s in tracer.spans:
        if s["name"] != "session.start":
            span_s[s["name"]] = span_s.get(s["name"], 0.0) + s["end"] - s["start"]
    exec_s = span_s.get(wl.action_span, 0.0)
    job_s = sum(j["s"] for j in jobs)

    def proc_delta(part):
        return sum(lay["proc_end"][part][0] - lay["proc_start"][part][0] for lay in layers)

    tasks = sorted(t for lay in layers for t in lay["task_s"])
    twin_s = sum(j["s"] for p in twin for j in p["jobs"]) / max(len(twin), 1)
    m = {
        "session.start_s": (res["session_s"], "s"),
        "plan.construct_s": (span_s.get("plan.construct", 0.0), "s"),
        "plan.construct_jobs": (sum(lay["construct_jobs"] for lay in layers), "count"),
        "plan.exchanges": (sum(lay["exchanges"] for lay in layers), "count"),
        "plan.python_nodes": (sum(lay["python_nodes"] for lay in layers), "count"),
        "exec.s": (exec_s, "s"),
        "exec.task_p50_s": (statistics.median(tasks) if tasks else 0.0, "s"),
        "exec.task_max_s": (tasks[-1] if tasks else 0.0, "s"),
        "exec.core_util": (sums.get("exec.executor_run_s", 0.0) / (exec_s * cores) if exec_s else 0.0, "ratio"),
        "python.worker_cpu_s": (proc_delta("python"), "s"),
        "driver.cpu_s": (proc_delta("driver"), "s"),
        "jvm.cpu_s": (proc_delta("jvm"), "s"),
        "jvm.rss_mb": (max((lay["proc_end"]["jvm"][1] for lay in layers), default=0) / MB, "MB"),
        "python.rss_mb": (max((lay["proc_end"]["python"][1] for lay in layers), default=0) / MB, "MB"),
        "matrix.decode_s": (span_s.get("matrix.decode", 0.0), "s"),
        "sinks.write_s": (span_s.get("sink.write", 0.0), "s"),
        "sinks.bytes_written": (sum(lay.get("sink_bytes", 0) for lay in layers), "B"),
        "matmul.products_per_s": (sum(wl.products(j["job"]) for j in jobs) / exec_s if exec_s else 0.0, "1/s"),
        "trace.collector_s": (collector.busy_s, "s"),
        "trace.overhead_frac": (job_s / n / twin_s - 1 if twin_s and n else 0.0, "ratio"),
    }
    for k, v in sums.items():
        m[k] = (v, "s" if k.endswith("_s") else "B" if "bytes" in k else "count")
    self_s = tracer.self_times()
    for name in SPAN_NAMES:
        m[f"self.{name}_s"] = (self_s.get(name, 0.0), "s")
    # every figure is per traced pass, except medians, maxima and ratios
    per_pass = {k for k in m if not (k.startswith(("session.", "jvm.rss", "python.rss"))
                                     or k in ("exec.task_p50_s", "exec.task_max_s", "exec.core_util",
                                              "matmul.products_per_s", "trace.overhead_frac"))}
    m = {k: ((v / n if k in per_pass and n else v), u) for k, (v, u) in m.items()}
    m["cache.persisted_rdds"] = (max(p["storage"][0] for p in passes), "count")
    m["cache.storage_bytes"] = (max(p["storage"][1] for p in passes), "B")
    extra = {k: m.pop(k) for k in ZERO_HERE}
    notes = {
        "exec.core_util": f"executor run s / ({exec_s:.3f} exec s x {cores} cores)",
        "exec.task_p50_s": f"over {len(tasks)} tasks",
        "trace.overhead_frac": f"traced pass job s {job_s / max(n, 1):.3f} vs untraced warm pass {twin_s:.3f}",
        "python.bytes_sent": "SQL metrics of the plan's Python nodes; the RDD path's PythonRDD exposes none",
        "matmul.products_per_s": f"L*M*N / {wl.action_span} s",
    }
    return m, notes, extra


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "emulating_hadoop_with_mpi_spark")):
        print("perfbench: run from the repository root (no emulating_hadoop_with_mpi_spark here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # Everything the run writes, the JVM's and Python workers' temp files included, stays here.
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={run_dir}/tmp", "-XX:-UsePerfData")))
    # half the cores run tasks; the rest keep the JIT, GC, the driver and
    # the Python workers off the task threads' cores
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    prov = provenance(root, args, "start")
    try:
        bench = Bench(args, run_dir)
        log(f"inputs and oracle ready; class path read in {warm_page_cache():.2f} s")
        res = bench.run()
        log("session stopped")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    prov.update(provenance(root, args, "end"), spark=res["spark"])

    jobs = [j for p in res["passes"] for j in p["jobs"]]
    leaked = set()  # passes after which Spark held more storage than after the pass before
    for prev, cur in zip(res["passes"], res["passes"][1:]):
        if cur["storage"][0] > prev["storage"][0] or cur["storage"][1] > prev["storage"][1]:
            leaked.add(cur["pass"])
    failed = [j for j in jobs if not j["ok"] or j["pass"] in leaked]
    extra = {}
    if args.trace:
        metrics, notes, extra = per_layer(res, bench.wl, bench.cores)
    else:
        metrics, notes = end_to_end(res)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={prov['spark_graft_cpus']} sf=0.1 spark={prov['spark']}")
    for k, (v, unit) in metrics.items():
        print(f"  {k:26s} {v:14.6g} {unit:7s} {notes.get(k, '')}")
    for k, (v, unit) in extra.items():
        print(f"  {k:26s} {v:14.6g} {unit:7s} not reported: {ZERO_HERE[k]}")
    print(f"  {'jobs_failed_frac':26s} {len(failed) / len(jobs):14.6g} {'ratio':7s} "
          f"{len(failed)} of {len(jobs)} jobs; storage grew after passes {sorted(leaked) or 'none'}")
    for j in failed:
        print(f"  FAILED pass {j['pass']} {j['job']}: {j['error'] or 'wrong output or arm, or storage growth'}")

    out_dir = os.path.join(root, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    record = {"provenance": prov, "metrics": {k: v for k, (v, _) in metrics.items()}, "notes": notes,
              "passes": [{k: p[k] for k in ("pass", "wall_s", "steal_s", "traced")} for p in res["passes"]],
              "jobs": [{k: v for k, v in j.items() if k != "layer"} for j in jobs],
              "extra": {k: v for k, (v, _) in extra.items()}, "spans": res["tracer"].spans}
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(json.dumps({"correct": not failed, "attempted": len(jobs), "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
