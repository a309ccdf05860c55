"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The last test runs every workload once at the tiny size through the
real command (a few minutes: each run starts its own Spark session).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, report  # noqa: E402
from perfbench.run import END_TO_END, UNITS  # noqa: E402
from perfbench.trace import Span, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
WORKLOADS = ("ingest", "stream", "curation")


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(path):
        for f in sorted(files):
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    a, _ = gen.ensure_inputs(str(tmp_path / "a"), workload, 7, "tiny")
    b, _ = gen.ensure_inputs(str(tmp_path / "b"), workload, 7, "tiny")
    c, _ = gen.ensure_inputs(str(tmp_path / "c"), workload, 8, "tiny")
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert da == db
    data_files = [k for k in da if k != "manifest.json"]
    assert data_files and all(da[k] != dc[k] for k in data_files)


def test_emitted_names_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += list(UNITS)
    wl = SimpleNamespace(name="ingest", manifest={"input_rows": 1})
    llm = dict.fromkeys(("calls", "retries", "failed", "rows", "inflight_sum",
                         "inflight_max"), 0)
    layers = report.layer_metrics([], wl, llm, 0, 1.0, 0.0, 1.0)
    names += list(layers)
    assert all(NAME.match(n) and len(n) <= 64 for n in names), names
    assert len(set(layers)) == len(layers) <= 128
    # the benchmark's metric lists are exactly what the command prints
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert all(m["unit"] == UNITS[m["name"]] for m in bench["end_to_end"])
    assert [m["name"] for m in bench["per_layer"]] == list(report.PER_LAYER)
    assert set(report.PER_LAYER) <= set(layers)
    units = [m["unit"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", u) for u in units)


def _span(i, parent, start, end, layer="x"):
    return Span(i, parent, "r", layer, f"s{i}", start, end)


def test_self_time_of_nested_spans():
    spans = [
        _span(0, None, 0.0, 10.0, "pass"),
        _span(1, 0, 1.0, 4.0),   # child
        _span(2, 1, 2.0, 3.0),   # grandchild
        _span(3, 0, 3.5, 6.0),   # overlaps child 1
        _span(4, 0, 8.0, 12.0),  # runs past its parent's end
    ]
    st = self_times(spans)
    assert st[2] == pytest.approx(1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(2.5)
    assert st[4] == pytest.approx(4.0)
    # parent 0 is covered on [1, 6] and [8, 10]
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)


def test_layer_self_times_account_for_the_pass():
    spans = [
        _span(0, None, 0.0, 10.0, "pass"),
        _span(1, 0, 0.5, 9.0, "op"),
        _span(2, 1, 1.0, 4.0, "dedup"),
        _span(3, 2, 2.0, 3.0, "graph"),
        _span(4, 1, 5.0, 8.0, "sink"),
    ]
    selfs = report.layer_self_times(spans)
    assert sum(selfs.values()) == pytest.approx(10.0)
    assert selfs["dedup.self_s"] == pytest.approx(2.0)
    assert selfs["graph.self_s"] == pytest.approx(1.0)
    assert selfs["sink.write_s"] == pytest.approx(3.0)
    assert selfs["other.self_s"] == pytest.approx(4.0)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_one_tiny_pass_has_no_failures(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == set(END_TO_END)
    # the run's details go to stderr as one JSON line
    info = next(json.loads(line) for line in proc.stderr.splitlines()
                if line.startswith('{"workload"'))
    cores = len(os.sched_getaffinity(0))
    assert info["cores"] == info["shuffle_partitions"] == cores
