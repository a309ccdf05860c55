"""Per-layer metrics from spans, and tools over sets of runs.

    python3 perfbench/report.py spans .bench_work/traces/<file>.jsonl
    python3 perfbench/report.py sweep --workload ingest --seeds 1-10 --out a.jsonl
    python3 perfbench/report.py spread a.jsonl
    python3 perfbench/report.py compare a.jsonl b.jsonl

``spans`` prints self time per layer for a written trace. ``sweep`` runs
the benchmark once per seed and appends each run's metrics to a set
file. ``spread`` prints, per workload and metric, the median, the
quartiles and the quartile spread as a share of the median.
``compare`` reads two sets and says, per workload and metric, whether
the second set's median is within the metric's bound of the first's
(bounds from ``BENCHMARK.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.trace import Span, load_spans, self_times  # noqa: E402

SELF_NAMES = {
    "catalog": "catalog.scan_s",
    "sources": "sources.decode_s",
    "sink": "sink.write_s",
    "transforms": "transforms.self_s",
    "functions": "functions.self_s",
    "scoring": "scoring.self_s",
    "similarity": "similarity.self_s",
    "bloom": "bloom.self_s",
    "graph": "graph.self_s",
    "dedup": "dedup.self_s",
    "llm": "llm.self_s",
    "streaming": "streaming.self_s",
    "other": "other.self_s",
}
COUNTER_LAYERS = ("catalog", "transforms", "functions", "scoring", "similarity", "bloom",
                  "graph", "dedup", "llm", "sink", "streaming", "other")
SPARK_COUNTERS = {"jobs": "count", "tasks": "count", "exec_cpu_s": "s",
                  "shuffle_mb": "MB", "shuffle_wait_s": "s", "spill_mb": "MB", "gc_s": "s"}
DECODE_FUNCTIONS = ("read_excel", "docx_tables", "pdf_tables")

# The per-layer metrics a traced run of a benchmarked workload prints
# (BENCHMARK.json's ``per_layer``): the ones ingest or curation move.
# Left out because they read 0 on both: ``*.spill_mb`` (nothing spills
# at these sizes), ``*.shuffle_wait_s`` (local mode fetches in-process),
# and the ``functions``, ``scoring`` and ``streaming`` layers, which no
# benchmarked operation calls. Every metric still goes to the run's
# stderr record and the traced run's table.
PER_LAYER = (
    "session.start_s",
    "catalog.scan_s", "catalog.input_mb", "catalog.jobs", "catalog.tasks",
    "catalog.exec_cpu_s",
    "sources.decode_s", "sources.files",
    "transforms.self_s", "transforms.jobs", "transforms.tasks", "transforms.exec_cpu_s",
    "similarity.self_s", "similarity.jobs", "similarity.tasks", "similarity.exec_cpu_s",
    "similarity.shuffle_mb",
    "bloom.self_s", "bloom.jobs", "bloom.tasks", "bloom.exec_cpu_s",
    "graph.self_s", "graph.jobs", "graph.tasks", "graph.exec_cpu_s", "graph.shuffle_mb",
    "graph.gc_s",
    "dedup.self_s", "dedup.candidates", "dedup.verified", "dedup.yield", "dedup.jobs",
    "dedup.tasks", "dedup.exec_cpu_s", "dedup.shuffle_mb", "dedup.gc_s",
    "llm.self_s", "llm.calls", "llm.retries", "llm.failed", "llm.inflight_mean",
    "llm.inflight_max", "llm.gate_yield", "llm.jobs", "llm.tasks", "llm.exec_cpu_s",
    "llm.gc_s",
    "sink.write_s", "sink.mb", "sink.jobs", "sink.tasks", "sink.exec_cpu_s",
    "other.self_s", "other.jobs", "other.tasks", "other.exec_cpu_s", "other.gc_s",
    "trace.pass_s", "trace.overhead_s",
)


def _layer(sp: Span) -> str:
    return sp.layer if sp.layer in SELF_NAMES else "other"


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out = {name: 0.0 for name in SELF_NAMES.values()}
    for sp in spans:
        out[SELF_NAMES[_layer(sp)]] += st[sp.id]
    return out


def layer_metrics(spans, wl, llm: dict, written: int, traced_s: float,
                  overhead_s: float, session_start_s: float) -> dict:
    """Every per-layer metric, ``name -> (value, unit)``. Metrics of a
    layer the workload does not run read 0."""
    m: dict[str, tuple[float, str]] = {"session.start_s": (session_start_s, "s")}
    for name, v in layer_self_times(spans).items():
        m[name] = (v, "s")
    counters: dict[str, float] = {}
    for sp in spans:
        for k, v in sp.counters.items():
            if k.startswith("spark."):
                k = f"{_layer(sp)}.{k[6:]}"
            counters[k] = counters.get(k, 0.0) + v
    m["catalog.input_mb"] = (counters.get("catalog.input_mb", 0.0), "MB")
    cand, ver = counters.get("dedup.candidates", 0), counters.get("dedup.verified", 0)
    m["dedup.candidates"] = (cand, "count")
    m["dedup.verified"] = (ver, "count")
    m["dedup.yield"] = (ver / cand if cand else 0.0, "ratio")
    m["sources.files"] = (sum(sp.name in DECODE_FUNCTIONS for sp in spans), "count")
    m["llm.calls"] = (llm["calls"], "count")
    m["llm.retries"] = (llm["retries"], "count")
    m["llm.failed"] = (llm["failed"], "count")
    m["llm.inflight_mean"] = (llm["inflight_sum"] / llm["calls"] if llm["calls"] else 0.0,
                              "requests")
    m["llm.inflight_max"] = (llm["inflight_max"], "requests")
    m["llm.gate_yield"] = (llm["rows"] / wl.manifest["input_rows"] if wl.name == "ingest"
                           else 0.0, "ratio")
    m["sink.mb"] = (written / 2**20, "MB")
    progress = getattr(wl, "progress", [])

    def dur(*keys):
        return sum(p["durationMs"].get(k, 0) for p in progress for k in keys) / 1000

    m["streaming.planning_s"] = (dur("queryPlanning"), "s")
    m["streaming.add_batch_s"] = (dur("addBatch"), "s")
    m["streaming.commit_s"] = (dur("walCommit", "commitOffsets"), "s")
    m["streaming.state_rows"] = (getattr(wl, "state_rows", 0), "count")
    m["streaming.checkpoint_mb"] = (getattr(wl, "checkpoint_bytes", 0) / 2**20, "MB")
    for layer in COUNTER_LAYERS:
        for c, unit in SPARK_COUNTERS.items():
            m[f"{layer}.{c}"] = (counters.get(f"{layer}.{c}", 0.0), unit)
    m["trace.pass_s"] = (traced_s, "s")
    m["trace.overhead_s"] = (overhead_s, "s")
    return m


# ---------------------------------------------------------------------------
# sets of runs


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def sweep(args) -> int:
    bench = _benchmark()
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        try:
            res = json.loads(last)
        except json.JSONDecodeError:
            res = {}
        rec = {"workload": args.workload, "seed": seed, "exit": proc.returncode,
               "wall_s": round(wall, 1),
               "correct": res.get("correct"), "failed": res.get("failed"),
               "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()}}
        with open(args.out, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(json.dumps(rec), flush=True)
    return 0


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _load_set(path: str) -> dict[tuple[str, str], list[float]]:
    out: dict[tuple[str, str], list[float]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            rec = json.loads(line)
            for k, v in rec["metrics"].items():
                out.setdefault((rec["workload"], k), []).append(v)
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def spread(args) -> int:
    bounds = {m["name"]: m["bound"] for m in _benchmark()["end_to_end"]}
    print(f"{'workload':<10} {'metric':<12} {'n':>3} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'spread':>7} {'bound':>6}")
    worst = 0
    for (wl, k), vs in sorted(_load_set(args.set).items()):
        q1, med, q3 = quartiles(vs)
        s = (q3 - q1) / med if med else float("inf")
        flag = "" if s <= bounds.get(k, 0) / 3 else "  <- above bound/3"
        worst += bool(flag)
        print(f"{wl:<10} {k:<12} {len(vs):>3} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{s:7.3f} {bounds.get(k, 0):6.2f}{flag}")
    return 0


def compare(args) -> int:
    spec = {m["name"]: m for m in _benchmark()["end_to_end"]}
    a, b = _load_set(args.a), _load_set(args.b)
    print(f"{'workload':<10} {'metric':<12} {'median A':>12} {'median B':>12} "
          f"{'q1 B':>12} {'q3 B':>12} {'B vs A':>7} {'bound':>6} agree")
    disagree = 0
    for key in sorted(set(a) & set(b)):
        wl, k = key
        if k not in spec:
            continue
        ma, mb = statistics.median(a[key]), statistics.median(b[key])
        q1, _, q3 = quartiles(b[key])
        change = (mb - ma) / ma if ma else 0.0
        worse = change if spec[k]["better"] == "lower" else -change
        ok = worse <= spec[k]["bound"]
        disagree += not ok
        print(f"{wl:<10} {k:<12} {ma:12.4f} {mb:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{change:+7.3f} {spec[k]['bound']:6.2f} {'yes' if ok else 'NO'}")
    return 1 if disagree else 0


def spans_report(args) -> int:
    spans = load_spans(args.file)
    roots = [sp for sp in spans if sp.parent is None]
    total = sum(sp.end - sp.start for sp in roots)
    selfs = layer_self_times(spans)
    for name, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"{name:<20} {v:10.4f} s {100 * v / total if total else 0:6.1f}%")
    print(f"{'sum of self times':<20} {sum(selfs.values()):10.4f} s; traced pass {total:.4f} s")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spans")
    s.add_argument("file")
    s = sub.add_parser("sweep")
    s.add_argument("--workload", required=True)
    s.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    s.add_argument("--out", required=True)
    s = sub.add_parser("spread")
    s.add_argument("set")
    s = sub.add_parser("compare")
    s.add_argument("a")
    s.add_argument("b")
    args = p.parse_args(argv)
    return {"spans": spans_report, "sweep": sweep, "spread": spread,
            "compare": compare}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
