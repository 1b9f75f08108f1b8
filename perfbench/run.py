"""Closed-loop benchmark of rayforce_spark: one client, one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/README.md``): ``query_mix``, ``rayfall_ipc``,
``corpus_ingest``. Inputs are generated from ``--seed`` into
``perfbench/_work/`` and removed at exit. Every template runs the same
number of times in a run.

The timed loop runs whole rounds, at least ``--seconds`` and at least
the workload's minimum op count.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the loop alternates untraced and
traced ops and the metrics are the per-layer ones (per op, from the
traced ops), plus the uncovered op wall and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

T_IMPORT = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_mix", "rayfall_ipc", "corpus_ingest")
PREPARE_REPS = 3          # set-ups per run; setup_s uses their median
HEAP = "2g"               # pinned with -Xms, so GC sizing repeats
# every per-layer metric, printed by every traced run (0 where the
# workload never enters the layer)
PER_LAYER = (
    ("session.load_s", "s/op"), ("session.load_calls", "count/op"),
    ("operators.build_s", "s/op"), ("operators.build_jobs", "count/op"),
    ("spark.analysis_ms", "ms/op"), ("spark.optimization_ms", "ms/op"),
    ("spark.planning_ms", "ms/op"), ("spark.exec_s", "s/op"),
    ("spark.jobs", "count/op"), ("spark.tasks", "count/op"),
    ("spark.shuffle_bytes", "B/op"), ("spark.gc_s", "s/op"),
    ("rayfall.eval_s", "s/op"),
    ("ipc.collect_s", "s/op"), ("ipc.shape_s", "s/op"),
    ("ipc.ser_s", "s/op"), ("ipc.de_s", "s/op"), ("ipc.wire_s", "s/op"),
    ("ipc.reply_bytes", "B/op"), ("ipc.reply_rows", "count/op"),
    ("streaming.checkpoint_s", "s/op"), ("datapipe.probe_build_s", "s/op"),
    ("datapipe.pairs_write_s", "s/op"), ("datapipe.extend_s", "s/op"),
    ("datapipe.compact_s", "s/op"), ("datapipe.pairs", "count/op"),
    ("sources.index_files", "count"), ("sources.bytes_written", "B/op"),
    ("store_bytes_per_input_byte", "B/B"),
    ("host.steal_s", "s"), ("op.uncovered_s", "s/op"),
    ("trace.overhead_s", "s/op"),
)


def _process_start_epoch() -> float:
    """Wall-clock start of this process (from /proc), so setup_s counts
    the interpreter start too; falls back to the first import."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return T_IMPORT


def _steal_s() -> float:
    """Hypervisor steal time of the whole host so far, in seconds."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


def _rss_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def _reset_hwm(pid: int | str = "self") -> None:
    """Restart the peak-RSS counter (Linux clear_refs '5'), so the peak
    covers the timed loop rather than input generation."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def tail_latency(lat: list[float]) -> tuple[float, float]:
    """(latency, percentile) at the highest percentile with at least 10
    ops beyond it. With 20 ops or fewer that percentile would not lie
    above the median, so the tail is the slowest op (p100)."""
    s = sorted(lat)
    k = len(s) - 11 if len(s) > 20 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


def _check_checkout() -> str | None:
    need = ("rayforce_spark/__init__.py", "__spark_entry__.py",
            "scripts/driver_sim.py")
    missing = [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]
    return ", ".join(missing) if missing else None


def _pin_environment(work: str, cpus: int, heap: str) -> None:
    """Everything Spark, the JVM and Python write goes under ``work``;
    slot count and heap are set here, not left to program defaults."""
    conf, tmp = os.path.join(work, "conf"), os.path.join(work, "tmp")
    for d in (conf, tmp):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write(
            f"spark.driver.extraJavaOptions -Xms{heap}\n"
            f"spark.local.dir {tmp}\n"
            f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}\n"
            "spark.ui.showConsoleProgress false\n"
            "spark.ui.retainedJobs 100000\n"
            "spark.ui.retainedStages 100000\n"
            "spark.sql.ui.retainedExecutions 100000\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\n"
                "rootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\n"
                "appender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
                # unpersisted checkpoint accumulators: harmless, very loud
                "logger.dag.name = org.apache.spark.scheduler.DAGScheduler\n"
                "logger.dag.level = off\n")
    os.environ.update({
        "SPARK_CONF_DIR": conf, "SPARK_LOCAL_DIRS": tmp, "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": heap,
        # both JVMs (spark-submit's launcher too): no hsperfdata files
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def _workload(name: str):
    """The workload class. Each has ``name`` and ``min_ops``, and
    ``install_trace()``, ``prepare(rep)`` (one set-up), ``warm()``,
    ``op(i)``, ``has_op(i)``, ``round_done(i)``, ``traced_op(i)``,
    ``check(n_ops) -> (failed op ids, detail)``, ``layer_metrics(...)``
    and ``close()``."""
    if name == "query_mix":
        from wl_query_mix import QueryMix as W
    elif name == "rayfall_ipc":
        from wl_rayfall_ipc import RayfallIpc as W
    else:
        from wl_corpus_ingest import CorpusIngest as W
    return W


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # knobs for selftest.py only; timed runs never pass them
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size as a multiple of sf0.1")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one output, to prove the check fails it")
    args = ap.parse_args(argv)
    t_proc = _process_start_epoch()

    missing = _check_checkout()
    if missing:
        print(f"perfbench: not a rayforce_spark checkout (missing {missing})",
              file=sys.stderr)
        return 2
    # local[nproc-1] repeated better than local[nproc] (see CHANGES.md)
    cpus = max(1, (os.cpu_count() or 1) - 1)
    work = os.path.join(HERE, "_work",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work, cpus, HEAP)
    sys.path[:0] = [HERE, ROOT]
    load_start = os.getloadavg()[0]

    from tracing import Tracer

    tracer = Tracer()
    W = _workload(args.workload)
    wl = W(seed=args.seed, scale=args.scale, work=work, tracer=tracer,
           corrupt=args.corrupt)
    if args.trace:
        wl.install_trace()   # before the workload builds its callables

    from rayforce_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    try:
        return _run(args, spark, wl, tracer, t_proc, cpus, load_start)
    finally:
        try:
            wl.close()
        finally:
            _stop_spark(spark)
            shutil.rmtree(work, ignore_errors=True)


def _run(args, spark, wl, tracer, t_proc, cpus, load_start) -> int:
    from tracing import SparkPhases, spark_work

    wl.spark = spark
    t_session = time.time() - t_proc
    prep = []
    for rep in range(PREPARE_REPS):
        t = time.perf_counter()
        wl.prepare(rep)
        prep.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm()
    t_warm = time.perf_counter() - t
    setup_s = t_session + statistics.median(prep) + t_warm

    phases = SparkPhases(spark) if args.trace else None
    jvm = spark.sparkContext._jvm
    gc_beans = list(jvm.java.lang.management.ManagementFactory
                    .getGarbageCollectorMXBeans())
    jvm_pid = spark.sparkContext._gateway.proc.pid

    def gc_ms() -> int:
        return sum(b.getCollectionTime() for b in gc_beans)

    if phases is not None:
        phases.drain()     # warm-up events stay out
        phases.on = True   # every op: listener events arrive late
    _reset_hwm()
    _reset_hwm(jvm_pid)
    gc0, steal0, epoch0 = gc_ms(), _steal_s(), int(time.time() * 1000)
    lat, traced, failed = [], [], set()
    t0 = time.perf_counter()
    deadline = t0 + args.seconds
    i = 0
    # whole rounds, at least the workload's minimum (so the op count,
    # and with it the tail percentile, repeats from run to run); a
    # traced run alternates rounds, so it ends on a traced one
    while not (time.perf_counter() >= deadline and i >= wl.min_ops
               and wl.round_done(i)
               and (not args.trace or wl.traced_op(i - 1))):
        if not wl.has_op(i):
            break
        on = bool(args.trace) and wl.traced_op(i)
        tracer.on = on
        tracer.op = i
        ts = time.perf_counter()
        try:
            with tracer.span("op"):
                wl.op(i)
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            failed.add(i)
            print(f"perfbench: op {i} failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
        lat.append(time.perf_counter() - ts)
        traced.append(on)
        i += 1
    wall = time.perf_counter() - t0
    tracer.on = False
    epoch1 = int(time.time() * 1000)
    steal = _steal_s() - steal0
    gc_s = (gc_ms() - gc0) / 1000
    py_rss, jvm_rss = _rss_hwm_mb(), _rss_hwm_mb(jvm_pid)

    bad, detail = wl.check(i)
    failed |= bad
    n = len(lat)
    tail, pct = tail_latency(lat)
    stamp = {
        "workload": args.workload, "seed": args.seed, "ops": n,
        "tail_pct": round(pct, 1), "slots": f"local[{cpus}]",
        "heap": HEAP, "load_1m_start": round(load_start, 2),
        "host_steal_s": round(steal, 2), "jvm_gc_s": round(gc_s, 3),
        "jvm_peak_rss_mb": round(jvm_rss, 1),
        "setup_parts_s": {"session": round(t_session, 3),
                          "prepare": [round(x, 3) for x in prep],
                          "warm": round(t_warm, 3)},
        "check": detail,
    }
    print("stamp " + json.dumps(stamp))
    if args.trace:
        phases.drain()
        phases.on = False
        metrics = _layer_metrics(wl, tracer, phases, lat, traced,
                                 spark_work(spark, epoch0, epoch1),
                                 gc_s, steal, n)
        traces = os.path.join(HERE, "_traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces,
                                 f"{args.workload}-s{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail, "s"),
            "ops_per_s": (n / wall, "1/s"),
            "py_peak_rss_mb": (py_rss, "MB"),
        }
    print(json.dumps({
        "correct": not failed, "attempted": n, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def _layer_metrics(wl, tracer, phases, lat, traced, work, gc_s, steal,
                   n) -> dict:
    """Per-op layer numbers over the traced ops, the op wall no span
    covers, and the overhead (median traced minus untraced op)."""
    n_tr = max(1, sum(traced))
    st = tracer.self_times()
    per = {k: v / n_tr for k, v in st.items()}
    on = [x for x, t in zip(lat, traced) if t]
    off = [x for x, t in zip(lat, traced) if not t]
    overhead = (statistics.median(on) - statistics.median(off)
                if on and off else 0.0)
    out = wl.layer_metrics(per, tracer.counts, n_tr,
                           tracer.jobs_self(work["job_submit_ms"]))
    # phases, jobs, tasks and shuffle cover traced and untraced ops alike
    out.update({
        "spark.analysis_ms": (phases.ms["analysis"] / n, "ms/op"),
        "spark.optimization_ms": (phases.ms["optimization"] / n, "ms/op"),
        "spark.planning_ms": (phases.ms["planning"] / n, "ms/op"),
        "spark.exec_s": (per.get("spark.exec", 0.0), "s/op"),
        "spark.jobs": (len(work["job_submit_ms"]) / n, "count/op"),
        "spark.tasks": (work["tasks"] / n, "count/op"),
        "spark.shuffle_bytes": (work["shuffle_bytes"] / n, "B/op"),
        "spark.gc_s": (gc_s / n, "s/op"),
        "host.steal_s": (steal, "s"),
        "op.uncovered_s": (per.get("op", 0.0), "s/op"),
        "trace.overhead_s": (overhead, "s/op"),
    })
    print("layers " + json.dumps({
        "workload": wl.name, "traced_ops": n_tr,
        "op_wall_s": statistics.median(on) if on else None,
        "self_s_per_op": {k: round(v, 5) for k, v in sorted(per.items())},
        "uncovered_s_per_op": round(per.get("op", 0.0), 5),
        "overhead_s_per_op": round(overhead, 5),
    }))
    return {name: out.get(name, (0.0, unit)) for name, unit in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
