"""Benchmark entry point: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload tiles --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  Load comes from this one process: a
closed loop with a single client, each pass starting after the previous
one has finished, against one session at ``local[<nproc>]``.  Passes
repeat until ``--seconds`` have passed and at least two (traced: two
rounds of an untraced and a traced pass) have run.

* ``--trace 0`` prints the end-to-end metrics: the median over passes
  of the CPU time a pass costs (``cpu_s``: this process, the Spark JVM
  and its Python workers, less the JVM's JIT compiler threads), set-up
  time (``setup_s``: session start, the median of three input
  generate+write rounds, and the untimed warm-up pass, which carries
  the first input scan) and the peak resident memory of the Python
  processes (``python_rss_mb``: Spark's Python workers plus this
  process).
* ``--trace 1`` alternates untraced passes with traced passes (see
  ``spark_trace``) and prints the per-layer metrics, medians over the
  traced passes; a layer the workload does not run reads 0.  The
  untraced passes give the pass wall time (``pass.wall_s``) and the JIT
  compiler threads' CPU time (``pass.jit_cpu_s``).

The warm-up pass's output is checked against ``oracles``; every later
pass, traced or not, must reproduce its digest.  ``attempted`` counts
passes, ``failed`` counts passes that raised or whose output is wrong.
The line before the result is a ``{"record": ...}`` object with the
host facts, the host's load during the passes, input sizes, every
sample and, when traced, every span; ``compare.py`` reads those lines.

All files (inputs, the tile store, Spark local dirs, temp files) go under
``.bench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
# the fewest timed passes in a run; traced runs time two passes per round
MIN_PASSES = {0: 2, 1: 2}
CLK_TCK = os.sysconf("SC_CLK_TCK")
# names of the JVM's JIT compiler threads (the name is cut to 15 bytes)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
WORKLOAD_NAMES = ("tiles", "joins")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and put the
    checkout on the path of this process and of Spark's Python
    workers (they inherit the environment)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM takes no Spark conf, only this variable
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT]


def start_session(work: str, cores: int):
    from zellige_spark.session import get_spark

    # no perf data file goes to /tmp; a fixed set of JIT compiler
    # threads, so that none exits and the ticks of the live ones are all
    # the JIT has used (see ``cpu_seconds``)
    java_opts = (f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    spark = get_spark(
        app="perfbench", master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": java_opts,
            # sample JVM memory during tasks, not only at heartbeats
            "spark.executor.metrics.pollingInterval": "100ms",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident memory of a process; 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def descendants(pid: int) -> list:
    """Live descendants of ``pid`` (Spark's Python worker daemon and
    the workers it forked)."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def jvm_peak_mb(spark, metric: str) -> float:
    """Peak of one JVM memory metric (``JVMHeapMemory``,
    ``JVMOffHeapMemory``) from the status store's executor metrics,
    sampled every 100 ms during tasks."""
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    total = 0
    for i in range(execs.size()):
        peak = execs.apply(i).peakMemoryMetrics()
        if peak.isDefined():
            total += peak.get().getMetricValue(metric)
    return total / 2.0 ** 20


def peak_memory(spark) -> dict:
    """The run's peak memory by part, in MB: the Python workers' and
    this process's resident peaks, and the JVM's heap and off-heap
    peaks."""
    workers = descendants(jvm_pid(spark))
    return {
        "workers_mb": sum(vm_hwm_mb(p) for p in workers),
        "workers": len(workers),
        "bench_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "jvm_heap_mb": jvm_peak_mb(spark, "JVMHeapMemory"),
        "jvm_offheap_mb": jvm_peak_mb(spark, "JVMOffHeapMemory"),
    }


def _stat(path: str) -> tuple:
    """(name, fields after the name) of a ``/proc`` stat file; the
    fields are empty if the process or thread has exited."""
    try:
        with open(path) as f:
            text = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return "", []
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def cpu_ticks(pid: int, children: bool = False) -> int:
    """User plus system CPU ticks a process has used, with those of its
    exited children it has waited for if ``children``; 0 if it has
    exited."""
    fields = _stat(f"/proc/{pid}/stat")[1]
    if not fields:
        return 0
    return sum(int(v) for v in fields[11:15 if children else 13])


def jit_ticks(pid: int) -> int:
    """CPU ticks used so far by a JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
        if fields and name.startswith(JIT_THREADS):
            total += int(fields[11]) + int(fields[12])
    return total


def cpu_seconds(jvm: int) -> tuple:
    """(program, jit): CPU seconds used so far by the benchmark's
    processes (this process, the Spark JVM, the Python workers under
    it, and the children each of them has waited for), less those of
    the JVM's JIT compiler threads, which are the second figure."""
    mine = os.times()
    jit = jit_ticks(jvm)
    ticks = sum(cpu_ticks(p, children=True) for p in [jvm] + descendants(jvm))
    program = (mine.user + mine.system + mine.children_user
               + mine.children_system + (ticks - jit) / CLK_TCK)
    return program, jit / CLK_TCK


def host_load(spark) -> dict:
    """The host's load averages, its cumulative CPU ticks (all CPUs:
    total, idle + iowait, steal) and the ticks used so far by each
    process of this benchmark (this process, the JVM, its workers)."""
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    jvm = jvm_pid(spark)
    own = {p: cpu_ticks(p) for p in [os.getpid(), jvm] + descendants(jvm)}
    return {"loadavg": load, "total": sum(ticks[:8]),
            "idle": ticks[3] + ticks[4], "steal": ticks[7], "own": own}


def load_between(a: dict, b: dict) -> dict:
    """What the host did between two ``host_load`` readings: the load
    averages at each end, and the shares of CPU time stolen by the
    hypervisor (other tenants of the machine), spent busy by any
    process, and spent busy by processes outside this benchmark."""
    total = max(b["total"] - a["total"], 1)
    busy = total - (b["idle"] - a["idle"]) - (b["steal"] - a["steal"])
    own = sum(t - a["own"].get(p, 0) for p, t in b["own"].items())
    return {
        "loadavg_start": a["loadavg"], "loadavg_end": b["loadavg"],
        "steal_share": (b["steal"] - a["steal"]) / total,
        "busy_share": busy / total,
        "other_share": max(busy - own, 0) / total,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
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


def host_facts(spark, seed: int, cores: int) -> dict:
    import pyspark

    return {
        "nproc": cores,
        "cpu_count": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "seed": seed,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "machine": platform.machine(),
    }


def bench(args, work: str, spec: dict) -> tuple:
    import workloads

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t0
    try:
        wl = workloads.make(args.workload, spark, work, args.seed, cores)
        gen_s, scan_s = [], []
        for _ in range(SETUP_ROUNDS):
            t = time.perf_counter()
            wl.setup()
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        ref = wl.run()
        warm_s = time.perf_counter() - t
        t = time.perf_counter()
        ref_digest = wl.digest(ref)
        checked_items, wrong = wl.check(ref)
        check_s = time.perf_counter() - t
        del ref
        for samples in wl.part_walls.values():
            samples.clear()
        attempted, failed = 1, int(wrong > 0)
        errors = []
        walls, cpus, jits = [], [], []
        traced_walls, layers, spark_counts = [], [], []
        tracer = None
        if args.trace:
            from spark_trace import Tracer
            tracer = Tracer(spark)
        jvm = jvm_pid(spark)

        def checked(out) -> bool:
            return wl.digest(out) == ref_digest and not wrong

        def timed_pass():
            cpu0, jit0 = cpu_seconds(jvm)
            t = time.perf_counter()
            out = wl.run()
            walls.append(time.perf_counter() - t)
            cpu1, jit1 = cpu_seconds(jvm)
            cpus.append(cpu1 - cpu0)
            jits.append(jit1 - jit0)
            return out

        load0 = host_load(spark)
        start = time.perf_counter()
        while len(errors) < 3 and (time.perf_counter() - start < args.seconds
                                   or len(walls) < MIN_PASSES[args.trace]):
            try:
                attempted += 1
                if tracer is None:
                    out = timed_pass()
                else:
                    with tracer.span("untraced") as root:
                        out = timed_pass()
                    spark_counts.append(root["counters"])
                failed += not checked(out)
                del out
                if tracer is not None:
                    attempted += 1
                    traced_wall, out, lay = wl.traced(tracer)
                    traced_walls.append(traced_wall)
                    layers.append(lay)
                    failed += not checked(out)
                    del out
                    scan_s.append(wl.scan_s())
            except Exception:
                errors.append(traceback.format_exc())
                failed += 1
        load = load_between(load0, host_load(spark))
        memory = peak_memory(spark)
        record = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds,
            "host": host_facts(spark, args.seed, cores),
            "load": load,
            "sizes": dict(wl.sizes), "items": wl.items,
            "setup": {"session_s": session_s, "generate_s": gen_s,
                      "warmup_s": warm_s, "check_s": check_s},
            "scan_s": scan_s,
            "walls": walls,
            "cpus": cpus,
            "jits": jits,
            "part_walls": wl.part_walls,
            "memory": memory,
            "checks": {"items_checked": checked_items, "items_wrong": wrong},
            "errors": errors[:3],
        }
    finally:
        stop_session(spark)
    if not walls:
        raise RuntimeError("no pass completed:\n" + "\n".join(errors[:1]))
    wall = statistics.median(walls)
    if args.trace:
        values = {m["name"]: 0.0 for m in spec["per_layer"]}
        for name in values:
            got = [lay[name] for lay in layers if name in lay]
            if got:
                values[name] = statistics.median(got)
        values["io_scan.s"] = statistics.median(scan_s)
        values["spark.heap_peak_mb"] = memory["jvm_heap_mb"]
        values["spark.offheap_peak_mb"] = memory["jvm_offheap_mb"]
        for name, key in (("spark.jobs", "jobs"), ("spark.stages", "stages"),
                          ("spark.gc_s", "gc_s"),
                          ("spark.failed_tasks", "failed_tasks")):
            values[name] = statistics.median(c[key] for c in spark_counts)
        values["pass.wall_s"] = wall
        values["pass.jit_cpu_s"] = statistics.median(jits)
        values["trace.overhead_s"] = (statistics.median(traced_walls) - wall
                                      if traced_walls else 0.0)
        record["traced_walls"] = traced_walls
        record["spans"] = tracer.spans
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {
            "cpu_s": statistics.median(cpus),
            "setup_s": session_s + statistics.median(gen_s) + warm_s,
            "python_rss_mb": memory["workers_mb"] + memory["bench_mb"],
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    record["metrics"] = values
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    return record, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "zellige_spark", "__init__.py")):
        print(f"perfbench: no zellige_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    try:
        record, result = bench(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
