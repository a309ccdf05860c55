"""Spans for the traced run.

Spans are recorded only in the benchmark's own code: around each pass
and operation, and -- by :func:`instrument` -- around calls into the
layers' public functions. A span records its name, layer, start, end,
parent and run id; spans stay in memory and are written out once, at
exit. Each span tags its Spark jobs with a job group, so the stage
counters Spark keeps in its status store (run and CPU time, shuffle
bytes, fetch wait, spill, GC) can be summed per span afterwards.

Spark is lazy, so an instrumented function that returns a DataFrame has
its output forced with a ``noop`` write inside its span. Upstream work a
span forces again is counted in that span's self time: the traced pass
is slower than an untraced one, and the run reports the difference as
the tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time
from dataclasses import asdict, dataclass, field

from perfbench.gen import dir_bytes

# Public functions wrapped in the traced run, by layer. A layer is named
# after the engine module that holds the functions.
LAYER_FUNCTIONS: dict[str, dict[str, tuple[str, ...]]] = {
    "catalog": {"gov_data_pipeline_spark.catalog": ("read_table",)},
    "sources": {
        "gov_data_pipeline_spark.sources.excel": ("read_excel",),
        "gov_data_pipeline_spark.sources.documents": (
            "docx_tables", "pdf_tables", "extract_xlsx_images", "assemble_rows",
            "images_to_df",
        ),
    },
    "transforms": {
        "gov_data_pipeline_spark.transforms.headers": ("promote_headers",),
        "gov_data_pipeline_spark.transforms.merge": ("merge_continuation_rows",),
        "gov_data_pipeline_spark.transforms.text": ("strip_all_strings",),
    },
    "llm": {"gov_data_pipeline_spark.llm.enrich": ("enrich_table",)},
    "sink": {
        "gov_data_pipeline_spark.sources.excel": ("write_excel",),
        "gov_data_pipeline_spark.sources.files": ("write_jsonl", "write_parquet"),
    },
    "dedup": {
        "gov_data_pipeline_spark.operators.dedup": (
            "shingle_rows", "minhash_doc_profile", "minhash_signatures_df",
            "lsh_candidate_pairs", "verify_candidates_hashset",
            "verify_candidates_jaccard", "jaccard_pairs",
            "winnowing_fingerprints_df",
        ),
    },
    "graph": {
        "gov_data_pipeline_spark.operators.graph": (
            "dedup_clusters", "connected_components",
        ),
    },
    "similarity": {
        "gov_data_pipeline_spark.operators.similarity": (
            "cosine_topk", "semdedup_cells", "ann_topk", "ivf_topk",
            "lsh_cosine_pairs", "cosine_pairs_gemm",
        ),
        "gov_data_pipeline_spark.operators.search": ("sparse_cosine_topk",),
    },
    "bloom": {"gov_data_pipeline_spark.operators.bloom": ("bloom_build", "bloom_probe")},
    "scoring": {
        "gov_data_pipeline_spark.operators.scoring": (
            "hashed_token_features", "train_linear_model", "score_linear_model",
        ),
    },
    "functions": {
        "gov_data_pipeline_spark.functions.chunking": (
            "chunk_documents", "pack_sequences",
        ),
    },
}

# Outputs whose row count the trace records (dedup.candidates/verified).
COUNTED = {
    "lsh_candidate_pairs": "dedup.candidates",
    "verify_candidates_hashset": "dedup.verified",
    "verify_candidates_jaccard": "dedup.verified",
}


@dataclass
class Span:
    id: int
    parent: int | None
    run: str
    layer: str
    name: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    groups: list = field(default_factory=list)  # extra job groups (streaming runs)


class Tracer:
    """In-memory span recorder that tags each span's Spark jobs with a
    job group."""

    def __init__(self, run_id: str, spark):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext

    def group(self, span_id: int) -> str:
        return f"perfbench-{self.run_id}-{span_id}"

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent, self.run_id, layer, name, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.id)
        self._sc.setJobGroup(self.group(sp.id), name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(self.group(parent), self.spans[parent].name)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def load_spans(path: str) -> list[Span]:
    with open(path, encoding="utf-8") as fh:
        return [Span(**json.loads(line)) for line in fh if line.strip()]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(sp.id, []), key=lambda c: c.start):
            s, e = max(c.start, sp.start), min(c.end, sp.end)
            if e <= s:
                continue
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[sp.id] = (sp.end - sp.start) - covered
    return out


def _force(out) -> None:
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame) and not out.isStreaming:
        out.write.format("noop").mode("overwrite").save()


def _wrap(tracer: Tracer, layer: str, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(layer, name) as sp:
            out = fn(*args, **kwargs)
            _force(out)
            if name in COUNTED:
                sp.counters[COUNTED[name]] = out.count()
            if name == "read_table":
                spark, sf_dir, table = args[:3]
                sp.counters["catalog.input_mb"] = dir_bytes(f"{sf_dir}/{table}.parquet") / 2**20
        return out

    return wrapper


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap every function in :data:`LAYER_FUNCTIONS` wherever the engine
    bound it (the defining module and every module that imported it),
    and restore the originals on exit. ``functools.wraps`` keeps the
    wrapper's qualified name, so closures shipped to Python workers
    still pickle the function by reference and run the original there."""
    patched: list[tuple[object, str, object]] = []
    try:
        for layer, modules in LAYER_FUNCTIONS.items():
            for mod_name, names in modules.items():
                mod = importlib.import_module(mod_name)
                for name in names:
                    orig = getattr(mod, name)
                    wrapped = _wrap(tracer, layer, name, orig)
                    for m in list(sys.modules.values()):
                        if not getattr(m, "__name__", "").startswith(
                            ("gov_data_pipeline_spark", "perfbench")
                        ):
                            continue
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                patched.append((m, attr, orig))
                                setattr(m, attr, wrapped)
        yield
    finally:
        for m, attr, orig in reversed(patched):
            setattr(m, attr, orig)


# ---------------------------------------------------------------------------
# Spark stage counters per span

STAGE_FIELDS = {
    # name: (StageData getter, scale to the reported unit)
    "exec_run_s": ("executorRunTime", 1e-3),
    "exec_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_mb": ("shuffleWriteBytes", 1 / 2**20),
    "shuffle_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
    "gc_s": ("jvmGcTime", 1e-3),
}


def stage_counters(spark, tracer: Tracer) -> None:
    """Attach Spark's own per-stage counters to every span, summed over
    the jobs of the span's job group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm, gw = sc._jvm, sc._gateway
    tracker = sc.statusTracker()
    no_quantiles = gw.new_array(jvm.double, 0)
    for sp in tracer.spans:
        jobs = [j for g in [tracer.group(sp.id), *sp.groups]
                for j in tracker.getJobIdsForGroup(g)]
        acc = {k: 0.0 for k in STAGE_FIELDS}
        acc["jobs"] = len(jobs)
        acc["tasks"] = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                           False, no_quantiles)
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    acc["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    for k, (getter, scale) in STAGE_FIELDS.items():
                        acc[k] += getattr(st, getter)() * scale
        sp.counters.update({f"spark.{k}": v for k, v in acc.items()})
