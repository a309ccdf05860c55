"""Driver-contract registry invariants: the queries()/oracle_sql()
dicts are built by merging per-module dicts — a duplicate key would
silently drop a query from the driver's correctness sweep."""

import os
import re
import subprocess
import sys

import pytest

from gov_data_pipeline_spark.queries import (
    _MODULES,
    all_oracles,
    all_queries,
    green_row,
)


def test_no_duplicate_query_keys_across_modules():
    total = sum(len(m.QUERIES) for m in _MODULES)
    assert len(all_queries()) == total, (
        "merged registry smaller than the sum of module registries: "
        "two modules define the same query name"
    )
    total_o = sum(len(m.ORACLE) for m in _MODULES)
    assert len(all_oracles()) == total_o, (
        "merged oracle registry smaller than the sum of module oracles"
    )


def test_query_naming_convention_and_callables():
    qs = all_queries()
    for name, fn in qs.items():
        assert re.fullmatch(r"q\d+_[a-z0-9_]+", name), name
        assert callable(fn), name


def test_every_priority_name_resolves():
    """The rotation order is a permutation of the module registries:
    every name it enumerates resolves to a query and none is dropped."""
    assert set(all_queries()) == {n for m in _MODULES for n in m.QUERIES}


def test_rotation_falls_back_to_name_order_without_records(monkeypatch, tmp_path):
    import gov_data_pipeline_spark.queries as reg

    monkeypatch.setattr(reg, "_REPO_ROOT", tmp_path)
    names = list(all_queries())
    assert names == sorted(names)


def test_priority_rotation_is_fresh():
    """Rotation staleness tripwire (round-7 process fault: the order was
    not re-derived after r06, so r06 and r07 sampled the IDENTICAL
    50 queries and a full driver round verified nothing new).

    The driver samples the first 50 entries of queries(). Invariant:
    no query inside the sample may have a FRESHER latest-green driver
    round than any query outside it — never-sampled queries (no row in
    any CORRECTNESS file) count as stalest of all. The latest-green
    rounds are recomputed here from the files, independently of the
    registry's own derivation. Ties across the boundary are fine."""
    import glob
    import json
    import os
    import re as _re

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest_green: dict[str, int] = {}
    files = sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")))
    assert files, "no CORRECTNESS files — driver layout changed?"
    for f in files:
        rnd = int(_re.search(r"r(\d+)", f).group(1))
        for q, row in json.load(open(f)).items():
            if green_row(row):
                latest_green[q] = max(latest_green.get(q, -1), rnd)
    names = list(all_queries())
    key = lambda q: latest_green.get(q, -1)  # noqa: E731
    sample, rest = names[:50], names[50:]
    stale_out = min(rest, key=key)
    fresh_in = max(sample, key=key)
    assert key(fresh_in) <= key(stale_out), (
        f"rotation is stale: {fresh_in} (green r{key(fresh_in)}) sits "
        f"inside the driver's 50-query sample while {stale_out} (green "
        f"r{key(stale_out)}) sits outside (queries/__init__.py)"
    )


def test_oracle_coverage_is_total():
    """Every registered query carries a DuckDB oracle — including q26,
    whose sketches are checked through a bounds oracle (exact values +
    within-guarantee booleans). A new no-oracle query must relax this
    test deliberately."""
    missing = set(all_queries()) - set(all_oracles())
    assert missing == set(), missing


_ORACLE_TYPE_ALLOW = (
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT",
    "VARCHAR", "BOOLEAN", "DATE", "TIMESTAMP", "TIMESTAMP WITH TIME ZONE",
    "BLOB", "DECIMAL",
)


def _bad_oracle_types(con, sql: str) -> list[str]:
    """Column names whose bound DuckDB result type is outside the
    allowlist (notably HUGEINT/UHUGEINT, which pandas fetches as
    float64 and the driver's canonicalizer hashes differently from
    Spark's BIGINT)."""
    rel = con.sql(sql)
    bad = []
    for name, t in zip(rel.columns, rel.types):
        ts = str(t)
        if not (ts in _ORACLE_TYPE_ALLOW or ts.startswith("DECIMAL")):
            bad.append(f"{name}: {ts}")
    return bad


def test_oracle_result_types_are_driver_safe(duck):
    """DuckDB twin of the Spark sortable-scalar pin below: bind every
    registered oracle and assert no result column has a type outside
    the allowlist.  Round 5's only 5 red queries (q115/q116/q120/q122/
    q128) were exactly the 5 oracles whose integer sum() promoted to
    HUGEINT — rows and values matched, the driver hash did not.  An
    oracle must CAST integer sums to BIGINT."""
    bad = {}
    for name, sql in all_oracles().items():
        offenders = _bad_oracle_types(duck, sql)
        if offenders:
            bad[name] = offenders
    assert not bad, f"oracle columns with driver-unsafe DuckDB types: {bad}"


def test_oracle_type_pin_catches_hugeint(duck):
    """The pin itself must fire on the exact round-5 failure shape:
    an uncast integer sum() (HUGEINT in DuckDB)."""
    offenders = _bad_oracle_types(
        duck, "SELECT sum(r_regionkey) AS s FROM region"
    )
    assert offenders == ["s: HUGEINT"], offenders
    assert _bad_oracle_types(
        duck, "SELECT CAST(sum(r_regionkey) AS BIGINT) AS s FROM region"
    ) == []


def test_registered_schemas_are_sortable_scalars(spark):
    """Driver-comparator contract: the canonicalizer sorts each result
    column with pandas before hashing, which throws on array/map/struct
    cells (r01's q26 row died exactly that way). Every registered query
    must therefore output only scalar, orderable column types. Running
    each query at sf0.001 resolves the ACTUAL result schema (several
    queries build schemas dynamically), so this is the contract test,
    not a convention note.

    A future query that genuinely needs a complex output column should
    serialize it (to_json / array_join / hash) — and if the driver's
    comparator ever learns complex types, relax this pin deliberately.
    """
    from pyspark.sql import types as T

    scalar_ok = (
        T.StringType, T.BooleanType, T.ByteType, T.ShortType,
        T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
        T.DecimalType, T.DateType, T.TimestampType, T.TimestampNTZType,
        T.BinaryType,
    )

    # Thread-pooled over the registry (r14): the per-query cost here is
    # driver-side analysis (py4j releases the GIL) plus small jobs the
    # scheduler happily overlaps — identical assertions, ~4x less
    # wall-clock, which is what keeps the full suite inside the
    # harness's pytest budget (VERDICT r13 item 1a).
    def _schema_bad(item) -> list[str]:
        name, fn = item
        df = fn(spark, "/root/testdata/sf0.001")
        return [
            f"{name}.{f.name}: {f.dataType.simpleString()}"
            for f in df.schema.fields
            if not isinstance(f.dataType, scalar_ok)
        ]

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=8) as pool:
        bad = sorted(
            b for bs in pool.map(_schema_bad, all_queries().items()) for b in bs
        )
    assert not bad, f"non-scalar output columns break the driver hash: {bad}"


def test_every_query_survives_empty_tables(spark, tmp_path_factory, sf_dir):
    """Degenerate-input contract: at 100 TB some partition, source, or
    whole snapshot is always empty, so every registered query must
    degrade to a (possibly empty) result — never throw — when ALL ten
    tables have zero rows (schemas preserved). Round-6 sweep caught
    four real crashes this pins against regression: PageRank's
    driver-side 1/N (q131/q137), k-means' empty centroid array
    (q113), and the parquet round-trip's schema inference over a
    0-row write (q136).

    The one deliberate exception: header promotion (q25) REQUIRES a
    header row and raises a clear ValueError — an empty registry file
    is a broken input, not an empty dataset; the guard's message is
    pinned here so it stays intentional."""
    import pytest as _pytest

    from gov_data_pipeline_spark.catalog import read_table

    base = tmp_path_factory.mktemp("sf_empty")
    from tests.oracle import TABLE_NAMES

    for t in TABLE_NAMES:
        read_table(spark, sf_dir, t).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(base / f"{t}.parquet"))
    with _pytest.raises(ValueError, match="no row with index 0"):
        all_queries()["q25_header_promotion"](spark, str(base)).count()

    # Thread-pooled (r14): same failure collection, ~4x less wall-clock
    # — concurrent Spark jobs are the scheduler's job (guide §2.6) and
    # the suite must fit the harness pytest budget (VERDICT r13 1a).
    def _run(item) -> str | None:
        name, fn = item
        try:
            fn(spark, str(base)).count()
            return None
        except Exception as ex:  # noqa: BLE001 - collecting all failures
            return f"{name}: {type(ex).__name__}: {ex}"

    from concurrent.futures import ThreadPoolExecutor

    items = [
        (n, f) for n, f in all_queries().items()
        if n != "q25_header_promotion"
    ]
    with ThreadPoolExecutor(max_workers=8) as pool:
        failures = sorted(r for r in pool.map(_run, items) if r)
    assert not failures, failures


def test_every_query_survives_null_and_blank_text(
    spark, tmp_path_factory, sf_dir
):
    """Degenerate-text contract: every registered query must run when a
    slice of documents.text is NULL, empty, or whitespace-only — the
    normal state of a crawled corpus. Round-6 sweep caught two real
    crashes this pins: the xlsx/docx fixture builders sliced NULL text
    on the driver, and the DOCX codec's XML escaper rejected None
    cells (now written as empty text, matching the XLSX writer)."""
    import pyspark.sql.functions as F

    from gov_data_pipeline_spark.catalog import read_table

    base = tmp_path_factory.mktemp("sf_nulltext")
    from tests.oracle import TABLE_NAMES

    for t in (t for t in TABLE_NAMES if t != "documents"):
        read_table(spark, sf_dir, t).write.parquet(str(base / f"{t}.parquet"))
    read_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(F.col("doc_id") % 11 == 0, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 11 == 1, F.lit(""))
        .when(F.col("doc_id") % 11 == 2, F.lit("   \t  "))
        .otherwise(F.col("text")),
    ).write.parquet(str(base / "documents.parquet"))
    # Thread-pooled (r14): same failure collection, ~4x less wall-clock
    # (see test_every_query_survives_empty_tables).
    def _run(item) -> str | None:
        name, fn = item
        try:
            fn(spark, str(base)).count()
            return None
        except Exception as ex:  # noqa: BLE001 - collecting all failures
            return f"{name}: {type(ex).__name__}: {ex}"

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=8) as pool:
        failures = sorted(
            r for r in pool.map(_run, all_queries().items()) if r
        )
    assert not failures, failures


def test_text_queries_hold_oracle_parity_on_adversarial_unicode(
    spark, tmp_path_factory, sf_dir
):
    """Cross-engine tokenization/regex parity under adversarial text:
    append NFC-safe and compatibility-class snippets (CJK, emoji, RTL,
    combining marks, fullwidth forms, ideographic space, zero-width
    joiners) to a slice of documents and re-run the text family's
    differential oracles. Java and RE2 regex classes, md5-of-utf8, and
    split('\\s+') must agree on every codepoint class or a future
    fixture change silently breaks the driver hash.

    ONE documented divergence is asserted divergent so the boundary
    stays visible: q20 (DuckDB has no NFKC — its oracle is exact only
    for NFKC-invariant text). q84's former char-vs-byte divergence was
    closed in round 8 (the oracle now slices hex-encoded bytes), so it
    moved into the must-match list."""
    import pyspark.sql.functions as F

    from gov_data_pipeline_spark.catalog import read_table
    from gov_data_pipeline_spark.queries import all_oracles, all_queries
    from tests.oracle import compare, duckdb_con, run_oracle

    base = tmp_path_factory.mktemp("sf_unicode")
    from tests.oracle import TABLE_NAMES

    for t in (t for t in TABLE_NAMES if t != "documents"):
        read_table(spark, sf_dir, t).write.parquet(str(base / f"{t}.parquet"))
    snippets = {
        0: "café naïve ﬁne",
        1: "你好世界 　 fullｗidth",
        2: "emoji \U0001f600\U0001f3a8 pair",
        3: "rtl مرحبا mixed",
        4: "combining á ë text",
        5: "nbsp separated words",
        6: "zero​width‍join",
    }
    expr = F.col("text")
    for k, s in snippets.items():
        expr = F.when(
            F.col("doc_id") % 9 == k, F.concat(F.col("text"), F.lit(" " + s))
        ).otherwise(expr)
    read_table(spark, sf_dir, "documents").withColumn("text", expr).write.parquet(
        str(base / "documents.parquet")
    )
    Q, O = all_queries(), all_oracles()
    con = duckdb_con(str(base))
    must_match = [
        "q21_reg_num", "q24_merge_continuation", "q47_text_stats",
        "q48_lang_id", "q49_fingerprint", "q40_exact_dedup",
        "q41_jaccard_pairs", "q57_winnowing", "q70_frequent_terms",
        "q87_decontaminate", "q88_repetition_filter",
        "q94_unigram_logprob", "q120_token_entropy",
        "q143_distinctive_terms", "q144_duplicate_passages",
        "q84_frame_sample", "q153_token_budget_pack",
        "q154_decontaminate_bloom", "q155_sparse_cosine_topk",
        "q158_containment_pairs", "q159_normalized_dedup",
        "q163_containment_dedup", "q164_quality_linear",
        "q167_quality_linear_unicode", "q168_quality_trained",
        "q169_unicode_normalized_dedup", "q170_script_profile",
        "q171_bigram_logprob", "q172_top_ngram_fraction",
        "q173_multilingual_curation", "q175_phrase_merges",
        "q176_passage_removal",
        # round-10 session-2 text family
        "q177_dsir_select", "q178_boilerplate_lines", "q179_pr_curve",
        "q180_lm_buckets", "q182_contamination_fraction",
        "q183_dup_lines", "q185_bpe_encode", "q187_minhash_calibration",
        # round-11: the CJK canonical key (char-per-token Han/kana/Thai
        # split) and the PII scrub's masked-text output must stay
        # cross-engine-exact under the same snippets
        "q191_cjk_normalized_dedup",
        "q194_pii_scrub",
    ]
    missing = [n for n in must_match if n not in Q or n not in O]
    assert not missing, f"sweep list out of date: {missing}"
    from tests.oracle import canonicalize

    # Thread-pooled (r14): the Spark arm parallelizes across the
    # scheduler; each thread gets its own DuckDB cursor (cursors are
    # the documented per-thread handle over one connection). Identical
    # comparisons, ~3x less wall-clock (suite-budget work, VERDICT 1a).
    def _check(name) -> str | None:
        spdf = Q[name](spark, str(base)).toPandas()
        dudf = run_oracle(con.cursor(), O[name])
        r = compare(spdf, dudf)
        if not r["hash_match"]:
            sa, sb = set(canonicalize(spdf)), set(canonicalize(dudf))
            return (
                f"{name}: rows={r['rows']} "
                f"only_spark={sorted(sa - sb)[:3]} "
                f"only_duck={sorted(sb - sa)[:3]}"
            )
        return None

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=8) as pool:
        bad = sorted(r for r in pool.map(_check, must_match) if r)
    assert not bad, f"unicode parity broke: {bad}"
    for name in ("q20_clean_text",):
        r = compare(Q[name](spark, str(base)).toPandas(), run_oracle(con, O[name]))
        assert not r["hash_match"], (
            f"{name} now matches on compatibility-class text — its "
            "documented oracle boundary has moved; update the docs"
        )


_OUTSIDE_ROOT_CALLER = """
import importlib.util, sys
from pyspark.sql import SparkSession

def load_entry():
    spec = importlib.util.spec_from_file_location("__spark_entry__", sys.argv[1])
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod

def session():
    return (SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "512m").getOrCreate())

if sys.argv[3] == "session_first":
    spark = session()
    e = load_entry()
else:
    e = load_entry()
    spark = session()
spark.sparkContext.setLogLevel("ERROR")
print("ROWS", len(e.queries()["q50_llm_enrich"](spark, sys.argv[2]).collect()))
spark.stop()
"""


@pytest.mark.parametrize("order", ["session_first", "entry_first"])
def test_entry_runs_python_udfs_outside_the_repo_root(tmp_path, sf_dir, order):
    """A caller of ``__spark_entry__`` may run from any working
    directory with no PYTHONPATH and build its session before or after
    the import. Python workers unpickle the package's UDFs by module
    name, so the repo root must reach them, not only the caller's
    ``sys.path`` (q50's enrichment stages are ``mapInPandas``)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "caller.py"
    script.write_text(_OUTSIDE_ROOT_CALLER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script), os.path.join(root, "__spark_entry__.py"), sf_dir, order],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0 and "ROWS " in proc.stdout, proc.stderr[-3000:]
