"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Starts the Spark session (set-up is timed from process start until a
first job has run), generates the workload's inputs from ``--seed``
(cached by seed under ``.bench_work/inputs``), runs one cold pass in the
fresh session and the workload's unmeasured warm-up passes, then runs
steady passes for ``--seconds``. Every operation's result is checked.
The last line of standard output is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Spark runs pinned to ``local[<cores>]`` with a fixed driver memory; the
load is a single closed-loop client (one operation at a time). The
process reads and writes only below the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
DRIVER_MEMORY = "2g"
DEADLINE_S = 150  # no new pass starts after this many seconds
MIN_STEADY_PASSES = 1
# Unmeasured passes between the cold pass and the measured ones: the
# first pass after the cold one is still 10-20 % slower (Python worker
# pools, Spark's plan and codegen caches, the JIT).
WARMUP_PASSES = 1


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(run_dir: str) -> None:
    """Cores, driver memory and every scratch path. Must run before the
    engine is imported: ``session`` reads ``SPARK_GRAFT_CPUS`` at import."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        # the same set and dict order in every Python worker of every run
        "PYTHONHASHSEED": "0",
        # -XX:-UsePerfData: every JVM (the launcher too) would write
        # /tmp/hsperfdata_<user>. -XX:TieredStopAtLevel=1: C1 only. With
        # C2 the JIT kept recompiling for five passes and more (CPU per
        # pass fell from 42 to 21 s), so a run, which can afford one
        # measured pass, measured how far the JIT had got; with C1 the
        # passes after the warm-up one agree within a few per cent.
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -XX:TieredStopAtLevel=1",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })


def spark_conf(run_dir: str) -> dict[str, str]:
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }


# ---------------------------------------------------------------------------
# session lifetime


def start_session(run_dir: str):
    """Build the engine's session and run a first job on it; returns the
    session and the seconds until that job finished."""
    from gov_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{_cores()}]",
                      shuffle_partitions=_cores(), extra_conf=spark_conf(run_dir))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort: kill and reap
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def since_process_start() -> float:
    """Seconds since this process started (interpreter start included)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# CPU and resident memory from /proc


def _tree_pids() -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        nxt = [p for p, pp in parent.items() if pp in frontier]
        tree += nxt
        frontier = nxt
    return tree


def busy_cpu_s() -> float:
    """CPU seconds every CPU has spent busy (user, nice, system, irq,
    softirq; steal and idle excluded), from /proc/stat. The benchmark's
    machine runs nothing else, so a difference of two readings is the
    CPU time of the process tree (driver, JVM, Python workers). Summing
    /proc/<pid>/stat over the tree instead lost 10-35 % of it, varying
    from pass to pass: the CPU time of exited Python workers does not
    reliably reach a parent's cutime."""
    f = _proc_stat_cpu()
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the host has taken from this machine's CPUs."""
    return _proc_stat_cpu()[7] / os.sysconf("SC_CLK_TCK")


def _proc_stat_cpu() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def tree_rss_mb() -> float:
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler(threading.Thread):
    PERIOD_S = 0.25

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop_event.wait(self.PERIOD_S)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)


# ---------------------------------------------------------------------------
# metrics


def tail(values: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples beyond
    it: (value, percentile, sample count). Below 11 samples it is the
    maximum."""
    xs = sorted(values)
    n = len(xs)
    i = n - 11 if n > 11 else n - 1
    return xs[i], 100.0 * (i + 1) / n, n


UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
    "op_tail_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "write_amp": "ratio",
}
# The end-to-end metrics of the result line (BENCHMARK.json's
# ``end_to_end``). ``op_tail_s`` and ``cpu_s`` are printed in the table
# only. A run has 2-4 measured operations, fewer than the 11 the tail
# percentile needs, so ``op_tail_s`` is the slowest single operation;
# ten runs of it spread by up to 0.36. ``cpu_s`` follows the host's
# speed with none of the pass's fixed waits to dilute it; in ingest ten
# runs of it spread by 0.27. Both are above the 0.25 bound.
END_TO_END = ("setup_s", "cold_pass_s", "rows_per_s", "op_p50_s", "peak_rss_mb", "write_amp")


def run(args, run_dir: str) -> tuple[dict, dict]:
    from perfbench import gen, report
    from perfbench.endpoint import EndpointFactory
    from perfbench.workloads import WORKLOADS

    t_start = time.perf_counter()
    steal0 = steal_s()
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        spark, session_s = start_session(run_dir)
        setup_s = since_process_start()
        shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

        t0 = time.perf_counter()
        input_dir, manifest = gen.ensure_inputs(os.path.join(WORK, "inputs"), args.workload,
                                                args.seed, args.size)
        gen_s = time.perf_counter() - t0

        factory = EndpointFactory(spark.sparkContext)
        wl = WORKLOADS[args.workload](spark, input_dir, manifest, run_dir, factory)
        t0 = time.perf_counter()
        wl.prepare()
        oracle_s = time.perf_counter() - t0

        cold_ops, _, cold_s = wl.run_pass()
        ops_all = list(cold_ops)
        for _ in range(WARMUP_PASSES):
            ops_all += wl.run_pass()[0]
        passes: list[float] = []
        cpu_passes: list[float] = []
        steady_ops = []
        written = []
        t_steady = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t_steady
            if len(passes) >= MIN_STEADY_PASSES and elapsed >= args.seconds:
                break
            if passes and time.perf_counter() - t_start + passes[-1] > DEADLINE_S:
                break
            before = factory.snapshot()
            cpu0 = busy_cpu_s()
            ops, w, s = wl.run_pass()
            cpu_passes.append(busy_cpu_s() - cpu0)
            llm_pass = {k: v - before[k] for k, v in factory.snapshot().items()}
            llm_pass["inflight_max"] = factory.snapshot()["inflight_max"]
            passes.append(s)
            steady_ops += ops
            written.append(w)
        ops_all += steady_ops

        trace = None
        if args.trace:
            trace = traced_pass(spark, wl, llm_pass, statistics.median(passes), ops_all,
                                session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        rss.stop()

    steal = steal_s() - steal0
    lat = [o.seconds for o in steady_ops]
    tail_v, tail_p, tail_n = tail(lat)
    values = {
        "setup_s": setup_s,
        "cold_pass_s": cold_s,
        "rows_per_s": manifest["input_rows"] / statistics.median(passes),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "cpu_s": statistics.median(cpu_passes),
        "peak_rss_mb": rss.peak,
        "write_amp": statistics.median(written) / manifest["input_bytes"],
    }
    failed = [o for o in ops_all if not o.ok]
    op_seconds: dict[str, list[float]] = {}
    for o in steady_ops:
        op_seconds.setdefault(o.name, []).append(o.seconds)
    info = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "cores": _cores(), "shuffle_partitions": shuffle_partitions,
        "driver_memory": DRIVER_MEMORY, "clients": 1,
        "input_rows": manifest["input_rows"], "input_bytes": manifest["input_bytes"],
        "stated_inputs": manifest["stated"], "gen_s": gen_s, "oracle_s": oracle_s,
        "session_start_s": session_s, "steady_passes": len(passes), "pass_s": passes,
        "pass_cpu_s": cpu_passes,
        "steal_s": steal,
        "op_tail": {"percentile": tail_p, "samples": tail_n},
        "fail_ratio": len(failed) / len(ops_all),
        "failures": [f"{o.name}: {o.detail}" for o in failed[:5]],
        "cold_op_s": {o.name: o.seconds for o in cold_ops},
        "op_s": {k: statistics.median(v) for k, v in op_seconds.items()},
        "llm_last_pass": llm_pass,
        "trace": trace,
    }
    result = {
        "correct": not failed,
        "attempted": len(ops_all),
        "failed": len(failed),
        "metrics": {},
    }
    if args.trace:
        result["metrics"] = {k: {"value": trace["layers"][k][0], "unit": trace["layers"][k][1]}
                             for k in report.PER_LAYER}
    else:
        result["metrics"] = {k: {"value": values[k], "unit": UNITS[k]} for k in END_TO_END}
    info["end_to_end"] = values
    return result, info


def traced_pass(spark, wl, llm_pass: dict, untraced_s: float, ops_all: list,
                session_start_s: float) -> dict:
    """One pass with every layer instrumented. The llm.* counts come from
    the last untraced pass (``llm_pass``): forcing each boundary replays
    the model calls upstream of it."""
    from perfbench import report
    from perfbench.trace import Tracer, instrument, stage_counters

    tracer = Tracer(f"{os.getpid()}", spark)
    with instrument(tracer):
        with tracer.span("pass", "pass") as root:
            ops, written, _ = wl.run_pass(tracer=tracer)
    ops_all += ops
    stage_counters(spark, tracer)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{wl.name}-{os.getpid()}.jsonl")
    tracer.dump(path)
    traced_s = root.end - root.start
    layers = report.layer_metrics(tracer.spans, wl, llm_pass, written, traced_s,
                                  traced_s - untraced_s, session_start_s)
    return {"spans_file": os.path.relpath(path, ROOT), "traced_pass_s": traced_s,
            "untraced_pass_s": untraced_s, "overhead_s": traced_s - untraced_s,
            "layers": layers}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("curation", "ingest", "stream"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args(argv)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    try:
        result, info = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(info, default=str, ensure_ascii=False), file=sys.stderr)
    for k, v in info["end_to_end"].items():
        print(f"{k:>12} {v:12.4f} {UNITS[k]}")
    print(f"{'op_tail':>12} at p{info['op_tail']['percentile']:.1f} of "
          f"{info['op_tail']['samples']} operations; fail_ratio {info['fail_ratio']:.4f}")
    if info["trace"]:
        for k, (v, u) in info["trace"]["layers"].items():
            print(f"{k:>24} {v:12.4f} {u}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
