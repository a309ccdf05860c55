"""The workloads: what one pass runs, and how each result is checked.

A pass is a list of operations issued one after another by a single
client (closed loop). Each operation is timed on its own; its result is
checked after the clock stops. A workload reports the bytes its pass
wrote, for ``write_amp``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass

from perfbench.gen import REG_COL, dir_bytes


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    detail: str = ""


def timed(name: str, fn, check, tracer=None) -> Op:
    """Run ``fn`` under the clock (and a span when tracing), then
    ``check`` its result. Raising or failing the check fails the op."""
    ctx = tracer.span("op", name) if tracer is not None else contextlib.nullcontext()
    t0 = time.perf_counter()
    try:
        with ctx:
            out = fn()
    except Exception as e:  # noqa: BLE001 - a failed op is a result
        return Op(name, time.perf_counter() - t0, False, f"{type(e).__name__}: {e}"[:300])
    dt = time.perf_counter() - t0
    try:
        ok, detail = check(out)
    except Exception as e:  # noqa: BLE001
        ok, detail = False, f"check {type(e).__name__}: {e}"[:300]
    return Op(name, dt, ok, detail)


# ---------------------------------------------------------------------------
# curation: corpus registry queries against their DuckDB oracles

# The corpus operators that fit the run budget (see README.md): q75
# dedup + graph (shingles, MinHash, LSH, verify, duplicate clusters),
# q154 bloom, q155 similarity (sparse cosine top-k), q196 the sharded
# JSONL export.
CURATION_QUERIES = (
    "q75_corpus_pipeline", "q154_decontaminate_bloom", "q155_sparse_cosine_topk",
    "q196_shuffled_export",
)


class Curation:
    name = "curation"

    def __init__(self, spark, input_dir, manifest, work_dir, factory=None):
        from gov_data_pipeline_spark.queries import all_oracles, all_queries

        self.spark, self.input_dir, self.manifest = spark, input_dir, manifest
        self.tmp = os.environ["TMPDIR"]
        registry, oracles = all_queries(), all_oracles()
        self.queries = [(q, registry[q], oracles[q]) for q in CURATION_QUERIES]
        self.expected: dict = {}

    def prepare(self) -> None:
        """DuckDB oracle results, once per seed, outside the timed window."""
        import duckdb

        from tests.oracle import run_oracle

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.input_dir}/documents.parquet')")
        for name, _, sql in self.queries:
            self.expected[name] = run_oracle(con, sql)
        con.close()

    def run_pass(self, tracer=None) -> tuple[list[Op], int, float]:
        from tests.oracle import compare

        ops, written = [], 0
        for name, fn, _ in self.queries:
            before = set(os.listdir(self.tmp))

            def check(pdf, name=name):
                res = compare(pdf, self.expected[name])
                return res["hash_match"], "" if res["hash_match"] else str(res)[:300]

            ops.append(timed(name, lambda fn=fn: fn(self.spark, self.input_dir).toPandas(),
                             check, tracer))
            for entry in set(os.listdir(self.tmp)) - before:
                written += dir_bytes(os.path.join(self.tmp, entry))
        return ops, written, sum(o.seconds for o in ops)


# ---------------------------------------------------------------------------
# ingest: registry files -> sources -> country pipelines -> enrich -> xlsx


class Ingest:
    name = "ingest"

    def __init__(self, spark, input_dir, manifest, work_dir, factory=None):
        self.spark, self.input_dir, self.manifest = spark, input_dir, manifest
        self.work_dir = work_dir
        self.factory = factory

    def prepare(self) -> None:
        pass

    def _run_file(self, f: dict, out_path: str) -> str:
        from gov_data_pipeline_spark.country_pipelines import (
            belarus_pipeline,
            kazakhstan_pipeline,
            kyrgyzstan_pipeline,
        )
        from gov_data_pipeline_spark.sources.documents import (
            assemble_rows,
            docx_tables,
            extract_xlsx_images,
            images_to_df,
            pdf_tables,
        )
        from gov_data_pipeline_spark.sources.excel import read_excel
        from gov_data_pipeline_spark.sources.files import write_parquet

        spark = self.spark
        with open(os.path.join(self.input_dir, f["name"]), "rb") as fh:
            data = fh.read()
        if f["country"] == "kyrgyzstan":
            decode = docx_tables if f["name"].endswith(".docx") else pdf_tables
            rows = [r for table in decode(data) for r in table]
            out = kyrgyzstan_pipeline(assemble_rows(spark, rows, skip_rows=2), self.factory)
        else:
            pipeline = belarus_pipeline if f["country"] == "belarus" else kazakhstan_pipeline
            images = images_to_df(spark, extract_xlsx_images(data))
            out = pipeline(read_excel(spark, data), images, self.factory)
        # write_excel selects columns with F.col, which cannot resolve the
        # registries' dotted names ("Рег. №"), so the export is parquet
        write_parquet(out, out_path, mode="overwrite")
        return out_path

    @staticmethod
    def check_file(f: dict, path: str) -> tuple[bool, str]:
        from gov_data_pipeline_spark.country_pipelines import (
            BELARUS_BRAND,
            KAZ_BRAND,
            KG_BRAND,
            KG_KEY,
        )
        import pyarrow.parquet as pq

        table = pq.read_table(path)
        header, body = table.column_names, list(zip(*table.to_pydict().values()))
        brand_col, key_col = {
            "belarus": (BELARUS_BRAND, REG_COL),
            "kazakhstan": (KAZ_BRAND, REG_COL),
            "kyrgyzstan": (KG_BRAND, KG_KEY),
        }[f["country"]]
        col = {name: i for i, name in enumerate(header)}
        got = {}
        for r in body:
            r = list(r) + [None] * (len(header) - len(r))
            got[r[col[key_col]]] = {
                "brand": r[col[brand_col]] or "",
                "excluded": r[col["excluded"]] or "",
                "variants_en": r[col["variants_en"]] or "",
                "variants_ru": r[col["variants_ru"]] or "",
            }
        want = f["expected"]
        if len(body) != f["records"] or set(got) != set(want):
            return False, f"{f['name']}: records {len(body)} != {f['records']} or keys differ"
        excluded = sum(v["excluded"] == "Да" for v in got.values())
        if excluded != f["excluded"]:
            return False, f"{f['name']}: excluded {excluded} != {f['excluded']}"
        bad = [k for k in want if got[k] != want[k]]
        if bad:
            k = bad[0]
            return False, f"{f['name']}: {len(bad)} rows differ, e.g. {k}: {got[k]} != {want[k]}"
        return True, ""

    def run_pass(self, tracer=None) -> tuple[list[Op], int, float]:
        out_dir = fresh_dir(os.path.join(self.work_dir, "ingest-out"))
        ops = []
        for f in self.manifest["files"]:
            path = os.path.join(out_dir, f["name"] + ".parquet")
            ops.append(timed(f["name"], lambda f=f, path=path: self._run_file(f, path),
                             lambda p, f=f: self.check_file(f, p), tracer))
        return ops, dir_bytes(out_dir), sum(o.seconds for o in ops)


# ---------------------------------------------------------------------------
# streaming sinks over staged arrival files (one micro-batch per file)

STREAM_TIMEOUT_S = 120
NEARDUP_THRESHOLD = 0.7


def neardup_sink(spark, arrivals: str, pass_dir: str):
    from gov_data_pipeline_spark.streaming import incremental_neardup_sink

    docs = (spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(arrivals))
    return incremental_neardup_sink(docs, f"{pass_dir}/corpus", "text", "doc_id",
                                    f"{pass_dir}/ckpt_neardup", threshold=NEARDUP_THRESHOLD)


def check_corpus(spark, pass_dir: str, want: list[int]) -> tuple[bool, str]:
    """The near-dup sink keeps exactly the documents that copy no earlier one."""
    got = sorted(r[0] for r in spark.read.parquet(f"{pass_dir}/corpus")
                 .select("doc_id").collect())
    return got == want, f"corpus {len(got)} docs, expected {len(want)}"


def run_sinks(sinks, pass_dir: str, k: int, tracer=None):
    """Run each ``(name, build, check)`` sink with ``availableNow`` over
    ``k`` arrival files. Each micro-batch is one operation, timed by the
    query's own progress report. Returns (ops, wall seconds, progress)."""
    ops: list[Op] = []
    all_progress: list[dict] = []
    wall = 0.0
    for name, build, check in sinks:
        ctx = tracer.span("streaming", name) if tracer is not None else contextlib.nullcontext()
        error = ""
        progress: list[dict] = []
        t0 = time.perf_counter()
        try:
            with ctx as sp:
                q = build().trigger(availableNow=True).start()
                if sp is not None:
                    sp.groups.append(str(q.runId))
                try:
                    if not q.awaitTermination(STREAM_TIMEOUT_S):
                        error = f"timeout after {STREAM_TIMEOUT_S}s"
                finally:
                    q.stop()
                progress = [p for p in q.recentProgress if p["numInputRows"]]
                if q.exception() is not None:
                    error = str(q.exception())[:300]
        except Exception as e:  # noqa: BLE001
            error = f"{type(e).__name__}: {e}"[:300]
        wall += time.perf_counter() - t0
        ok, detail = (False, error) if error else check(pass_dir)
        all_progress += progress
        batches = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        batches += [0.0] * (k - len(batches))  # a batch that never ran failed
        ok = ok and len(progress) == k
        ops += [Op(f"{name}[{i}]", s, ok, detail) for i, s in enumerate(batches)]
    return ops, wall, all_progress


def sink_state(spark, pass_dir: str) -> tuple[int, int]:
    """(rows the sinks keep as state, checkpoint bytes) after a pass."""
    rows = sum(spark.read.parquet(f"{pass_dir}/{d}").count()
               for d in ("corpus", "psi", "rollup") if os.path.isdir(f"{pass_dir}/{d}"))
    ckpt = sum(dir_bytes(f"{pass_dir}/{d}") for d in os.listdir(pass_dir)
               if d.startswith("ckpt"))
    return rows, ckpt


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Stream:
    name = "stream"

    def __init__(self, spark, input_dir, manifest, work_dir, factory=None):
        self.spark, self.input_dir, self.manifest = spark, input_dir, manifest
        self.work_dir = work_dir
        self.progress: list[dict] = []  # every micro-batch of the last pass

    def prepare(self) -> None:
        """Batch twins over the same arrival files, computed by DuckDB."""
        import duckdb

        con = duckdb.connect()
        ev = f"read_parquet('{self.input_dir}/events/*.parquet', filename=true)"
        self.rollup = con.execute(
            f"SELECT event_type, date_trunc('hour', ts) AS bar, count(*) AS n, "
            f"sum(value) AS sum_v, min(value) AS min_v, max(value) AS max_v "
            f"FROM {ev} GROUP BY ALL ORDER BY event_type, bar").fetch_df()
        counts = con.execute(
            f"SELECT filename, event_type, count(*) AS n FROM {ev} GROUP BY ALL"
        ).fetchall()
        files = sorted({c[0] for c in counts})
        self.psi_counts = {(files.index(f), t): n for f, t, n in counts}
        con.close()

    def _sinks(self, pass_dir: str):
        from gov_data_pipeline_spark.catalog import read_table
        from gov_data_pipeline_spark.streaming.monitor import psi_drift_sink, reference_profile
        from gov_data_pipeline_spark.streaming.rollup import incremental_hourly_rollup_sink
        from gov_data_pipeline_spark.streaming.windows import read_events_stream

        spark, src = self.spark, self.input_dir

        def psi():
            profile = reference_profile(read_table(spark, src, "reference_events"))
            return psi_drift_sink(read_events_stream(spark, f"{src}/events"), profile,
                                  f"{pass_dir}/psi", f"{pass_dir}/ckpt_psi")

        def rollup():
            return incremental_hourly_rollup_sink(
                read_events_stream(spark, f"{src}/events"), f"{pass_dir}/rollup",
                f"{pass_dir}/ckpt_rollup")

        return (("incremental_neardup_sink", lambda: neardup_sink(spark, f"{src}/docs", pass_dir),
                 lambda d: check_corpus(spark, d, self.manifest["novel_doc_ids"])),
                ("psi_drift_sink", psi, self._check_psi),
                ("incremental_hourly_rollup_sink", rollup, self._check_rollup))

    def _check_psi(self, pass_dir):
        rows = self.spark.read.parquet(f"{pass_dir}/psi").collect()
        got = {(r["batch_id"], r["event_type"]): r["n_events"] for r in rows}
        if got != self.psi_counts:
            return False, "per-batch event counts differ from the arrival files"
        mean = {}
        for r in rows:
            mean.setdefault(r["batch_id"], []).append(r["psi"])
        worst = max(mean, key=lambda b: sum(mean[b]) / len(mean[b]))
        return worst == self.manifest["drifted_file"], f"largest drift in batch {worst}"

    def _check_rollup(self, pass_dir):
        from gov_data_pipeline_spark.streaming.rollup import read_hourly_rollup

        got = read_hourly_rollup(self.spark, f"{pass_dir}/rollup").toPandas()
        want = self.rollup
        if len(got) != len(want):
            return False, f"rollup rows {len(got)} != {len(want)}"
        exact = all((got[c].values == want[c].values).all()
                    for c in ("event_type", "n", "min_v", "max_v"))
        close = (abs(got["sum_v"].values - want["sum_v"].values)
                 <= 1e-6 * abs(want["sum_v"].values) + 1e-6).all()
        return bool(exact and close), "rollup differs from the batch twin"

    def run_pass(self, tracer=None) -> tuple[list[Op], int, float]:
        pass_dir = fresh_dir(os.path.join(self.work_dir, "stream-pass"))
        ops, wall, self.progress = run_sinks(self._sinks(pass_dir), pass_dir,
                                             self.manifest["files"], tracer)
        if tracer is not None:
            self.state_rows, self.checkpoint_bytes = sink_state(self.spark, pass_dir)
        return ops, dir_bytes(pass_dir), wall


WORKLOADS = {"curation": Curation, "ingest": Ingest, "stream": Stream}
