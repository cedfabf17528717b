#!/usr/bin/env python3
"""dce_spark benchmark: closed-loop workloads over the public API.

    python3 perfbench/run.py --workload validate_batch --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

Run from the repository root. One client per workload issues one
operation at a time (closed loop) on ``local[<cpus>]`` with as many
shuffle partitions as cpus. Each run sets up and runs a fixed number of
warm-up operations untimed, sets its inputs up again three times
(``setup_s`` is the median), then times operations for ``--seconds``
(at least two) and checks every operation's output.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
layer modules' public functions, alternates traced and untraced
operations, and prints the per-layer metrics of the traced ones with
the tracing overhead (traced minus untraced median op time).
The last stdout line is one JSON object: correct, attempted, failed,
metrics. A failed output check makes the exit code 1.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
# JVM options of the driver. A fixed-size heap makes the JVM's share of
# peak_rss_mb track what the run touches, not how far the collector chose
# to grow. Compile thresholds at a tenth of their defaults bring an op
# within a quarter of a long-lived driver's steady-state time by the
# second op instead of the fifth, so a short run measures close to that
# state and not its warm-up curve.
JVM_OPTIONS = "-Xms1g -XX:CompileThresholdScaling=0.1 -XX:-UsePerfData"
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile
# a timed window runs at least this many ops, so no median is one sample
MIN_OPS = 2
# a traced run has no window to meet: it runs at least this many ops,
# half traced, half untraced, so its medians are not single samples
TRACE_MIN_OPS = 6
# share of the traced op time that may lie outside every layer span
# (benchmark glue: the joins between funnel steps), beyond the tracing
# overhead, before a traced run fails
GLUE_SHARE = 0.05


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them; the run must report exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def cpus() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ spark


def start_spark(work: str):
    """A local session whose scratch space all lies under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keep the launcher JVM's hsperfdata file out of /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from pyspark.sql import SparkSession

    n = cpus()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp} -Dderby.system.home={work}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None and proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Runtime:
    """JVM garbage-collection time (GarbageCollectorMXBean), JVM and
    driver CPU time, and peak resident memory of both processes."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self.mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.java_version = str(jvm.java.lang.System.getProperty("java.version"))
        self.tick = os.sysconf("SC_CLK_TCK")

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans()) / 1e3

    def jvm_cpu_s(self) -> float:
        # the OperatingSystemMXBean's cpu counter is not reachable through
        # py4j on JDK 17 (module-private class); /proc holds the same count
        with open(f"/proc/{self.pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return (int(f[11]) + int(f[12])) / self.tick

    def cpu(self) -> tuple[float, float]:
        """(JVM, driver) cpu seconds so far."""
        return self.jvm_cpu_s(), time.process_time()

    def peak_rss_mb(self) -> float:
        total = 0
        for pid in ("self", str(self.pid)):
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024


def job_stats(sc, group: str) -> dict[str, float]:
    """Jobs, stages and tasks that ran under one job group."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for j in st.getJobIdsForGroup(group):
        jobs += 1
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"spark.jobs_per_op": jobs, "spark.stages_per_op": stages,
            "spark.tasks_per_op": tasks}


# ------------------------------------------------------------- statistics


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    TAIL_BEYOND samples beyond it. A run with at most 2 * TAIL_BEYOND
    samples has no such percentile above its median, so its tail is its
    median (p50): a tail never reads below the median."""
    s = sorted(times)
    n = len(s)
    k = n - TAIL_BEYOND  # 1-based rank; n - k samples lie beyond it
    if 2 * k <= n:
        return statistics.median(s), 50.0
    return s[k - 1], 100.0 * k / n


@dataclass
class Record:
    times: list[float] = field(default_factory=list)
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    per_op: dict[int, dict[str, float]] = field(default_factory=dict)


# -------------------------------------------------------------- the loop


def run_ops(spark, wl, tracer, runtime, seconds: float, first: int, rec: Record,
            timed: bool = True, min_ops: int = 1, untraced: Record | None = None) -> int:
    """Closed loop: issue op after op until ``seconds`` have passed and
    at least ``min_ops`` ops ran. Returns the next op id.

    With ``untraced`` given, ops alternate: odd ids run traced and are
    recorded in ``rec``, even ids run untraced into ``untraced``, so both
    halves sample the same stretch of the JVM's warm-up."""
    sc = spark.sparkContext
    deadline = time.perf_counter() + seconds
    i = first
    while i < first + min_ops or time.perf_counter() < deadline:
        if untraced is not None:
            tracer.enabled = i % 2 == 1
        into = rec if untraced is None or tracer.enabled else untraced
        if tracer.enabled:
            sc.setJobGroup(f"perfbench-op-{i}", wl.name)
            gc0 = runtime.gc_s()
            cpu0 = runtime.cpu()
        res, problems = None, []
        t0 = time.perf_counter()
        try:
            with tracer.op(i):
                res = wl.op(i)
        except Exception:
            problems = [traceback.format_exc()]
        dt = time.perf_counter() - t0
        if tracer.enabled:  # read before the check, whose jobs are not the op's
            jvm_cpu, driver_cpu = (b - a for a, b in zip(cpu0, runtime.cpu()))
            gc_s = runtime.gc_s() - gc0
            jobs = job_stats(sc, f"perfbench-op-{i}")
        if res is not None:
            try:
                problems = wl.check(res)
            except Exception:
                problems = [traceback.format_exc()]
        spark.catalog.clearCache()
        into.attempted += 1
        if problems:
            into.failed += 1
            print(f"[{wl.name}] op {i} failed: " + "; ".join(problems), file=sys.stderr)
        if timed:
            into.times.append(dt)
            into.rows += res.rows if res is not None else 0
        if tracer.enabled:
            d = rec.per_op.setdefault(i, {})
            d.update(tracer.counts.get(i, {}))
            d.update(res.counts if res is not None else {})
            d.update(jobs)
            d.update({"jvm.gc_s": gc_s, "jvm.cpu_s": jvm_cpu, "driver.cpu_s": driver_cpu})
        i += 1
    return i


def settle(runtime, step: float = 0.2, limit: float = 5.0) -> None:
    """Wait (at most ``limit`` s) until the JVM uses less than a fifth of
    a cpu: after an operation it keeps compiling hot code and cleaning
    up shuffle files and cached blocks for a moment."""
    end = time.perf_counter() + limit
    last = runtime.jvm_cpu_s()
    while time.perf_counter() < end:
        time.sleep(step)
        now = runtime.jvm_cpu_s()
        if now - last < 0.2 * step:
            return
        last = now


def timed_setup(wl, runtime) -> float:
    """One set-up's wall time, started once the JVM is idle and with
    Python's collector paused. A collection costs time in proportion to
    the driver's whole heap (py4j proxies, earlier results), not to the
    set-up's own work, and lands in one set-up or the next by chance;
    the heap is collected before the clock starts instead."""
    settle(runtime)
    gc.collect()
    gc.disable()
    try:
        t0 = time.perf_counter()
        wl.setup()
        return time.perf_counter() - t0
    finally:
        gc.enable()


def run_workload(spark, runtime, name: str, work: str, seed: int, seconds: float,
                 trace: bool) -> tuple[Record, dict[str, float], dict]:
    import spans
    import workloads

    rec = Record()
    tracer = spans.Tracer(enabled=False)
    wl = workloads.WORKLOADS[name](spark, work, seed, tracer)
    # a first, untimed set-up and a fixed number of untimed ops absorb the
    # fresh JVM's class loading, code generation and JIT warm-up; a fixed
    # count (not a time) starts every run's window at the same point of
    # that curve. The timed set-ups then redo the set-up in a warm JVM.
    t0 = time.perf_counter()
    wl.setup()
    nxt = run_ops(spark, wl, tracer, runtime, 0.0, 0, rec, timed=False,
                  min_ops=wl.warmup_ops)
    info: dict = {"warmup_ops": nxt, "warmup_s": time.perf_counter() - t0}
    setups = []
    for _ in range(SETUP_REPS):
        setups.append(timed_setup(wl, runtime))
    info["setup_runs_s"] = setups
    if not trace:
        run_ops(spark, wl, tracer, runtime, seconds, nxt, rec, min_ops=MIN_OPS)
        p_tail, pct = tail(rec.times)
        info.update(tail_percentile=pct, samples=len(rec.times), op_times_s=rec.times)
        metrics = {
            "setup_s": statistics.median(setups),
            "op_p50_s": statistics.median(rec.times),
            "op_tail_s": p_tail,
            "rows_per_s": rec.rows / sum(rec.times),
            "ok_ratio": (rec.attempted - rec.failed) / rec.attempted,
            "peak_rss_mb": runtime.peak_rss_mb(),
        }
    else:
        base = Record()
        tracer.install()
        try:
            run_ops(spark, wl, tracer, runtime, seconds, nxt, rec, min_ops=TRACE_MIN_OPS,
                    untraced=base)
        finally:
            tracer.enabled = False
            tracer.uninstall()
        rec.attempted += base.attempted
        rec.failed += base.failed
        metrics = layer_metrics(tracer, rec, statistics.median(base.times))
        info.update(samples=len(rec.times), untraced_samples=len(base.times),
                    wrapped_functions=len({s.name for s in tracer.spans}))
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.dump(
            os.path.join(ROOT, ".perfbench_out", f"trace-{name}-seed{seed}.json"),
            {"workload": name, "seed": seed, "per_op": rec.per_op},
        )
    t0 = time.perf_counter()
    problems = wl.final_check()
    info["final_check_s"] = time.perf_counter() - t0
    if trace:
        problems += glue_check(metrics)
    for p in problems:
        print(f"[{name}] final check failed: {p}", file=sys.stderr)
    if problems:
        rec.failed += 1
        rec.attempted += 1
    return rec, metrics, info


def glue_check(metrics: dict[str, float]) -> list[str]:
    """Layer self times must explain the traced op time up to the
    tracing overhead or GLUE_SHARE of the op, whichever is larger."""
    glue = metrics["trace.unattributed_s"]
    limit = max(metrics["trace.overhead_s"], GLUE_SHARE * metrics["trace.op_p50_s"])
    if glue > limit:
        return [f"{glue:.3f} s per op lies in no layer span (limit {limit:.3f} s)"]
    return []


def layer_metrics(tracer, rec: Record, untraced_p50: float) -> dict[str, float]:
    import spans

    summary = spans.per_op_summary(tracer.spans)
    ops = sorted(rec.per_op)
    for i in ops:
        rec.per_op[i].update(summary.get(i, {}))

    def med(key: str) -> float:
        return statistics.median(rec.per_op[i].get(key, 0.0) for i in ops)

    out = {k: med(k) for k in declared_metrics()[1] if not k.startswith("trace.")}
    traced_p50 = statistics.median(rec.times)
    out.update({
        "trace.op_p50_s": traced_p50,
        "trace.untraced_op_p50_s": untraced_p50,
        "trace.overhead_s": traced_p50 - untraced_p50,
        "trace.layer_self_sum_s": med("layer_self_sum_s"),
        "trace.unattributed_s": med("unattributed_s"),
    })
    return out


# ------------------------------------------------------------------- main


def cpu_ticks() -> list[int]:
    """The aggregate cpu line of /proc/stat: user ... steal ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def conditions(seed: int, runtime, load_before, ticks_before: list[int]) -> dict:
    import pyspark

    load_after = os.getloadavg()
    ticks = [b - a for a, b in zip(ticks_before, cpu_ticks())]
    n = cpus()
    return {
        "nproc": n,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        # the run itself loads every cpu, so only the load found before
        # it started can reveal co-tenants
        "overloaded": load_before[0] > n,
        # cpu time the hypervisor gave to other guests while this run waited
        "steal_pct": round(100 * ticks[7] / max(1, sum(ticks)), 2),
        "pyspark": pyspark.__version__,
        "java": runtime.java_version,
        "python": platform.python_version(),
        "seed": seed,
    }


def main(argv=None) -> int:
    import workloads as W

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*W.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dce_spark")):
        print(f"dce_spark package not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    load_before = os.getloadavg()
    ticks_before = cpu_ticks()
    names = list(W.WORKLOADS) if args.workload == "all" else [args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        spark_start_s = time.perf_counter() - t0
        runtime = Runtime(spark)
        results = {}
        for name in names:
            results[name] = run_workload(
                spark, runtime, name, os.path.join(work, name), args.seed,
                args.seconds, bool(args.trace),
            )
        cond = conditions(args.seed, runtime, load_before, ticks_before)
        cond["spark_start_s"] = spark_start_s
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it

    if cond["overloaded"]:
        print(f"warning: loadavg above nproc={cond['nproc']}; figures are suspect",
              file=sys.stderr)
    units = declared_metrics()[1 if args.trace else 0]
    attempted = sum(r.attempted for r, _, _ in results.values())
    failed = sum(r.failed for r, _, _ in results.values())
    merged = {}
    for name, (rec, metrics, info) in results.items():
        if set(metrics) != set(units):
            raise RuntimeError(f"{name} reports {sorted(set(metrics) ^ set(units))} "
                               "unlike BENCHMARK.json")
        print(f"== {name}  conditions {json.dumps({**cond, **info})}")
        print(f"   ops attempted {rec.attempted}, failed {rec.failed}, "
              f"failed_ratio {rec.failed / rec.attempted:.4f}")
        if "tail_percentile" in info:
            print(f"   op_tail_s is p{info['tail_percentile']:.1f} of "
                  f"{info['samples']} timed ops")
        for k, v in metrics.items():
            print(f"   {k:<40} {v:>16.6f} {units[k]}")
            merged[k if len(names) == 1 else f"{name}.{k}"] = {"value": v, "unit": units[k]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": merged}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
