r"""Property-based tests (SURVEY §5.2-4): the Spark rewrites of the
reference's stateful/scalar logic must agree with direct pure-Python
ports of the reference algorithms on randomized inputs.

The pure-Python models below re-implement the reference semantics
(handlers/kyrgyzstan.py:169-236 merge/normalize, utils/gpt.py:39-51
exclusion) row-for-row; hypothesis drives randomized row segmentations
and messy strings through both paths.

Alphabets are constrained to the reference's real input domain
(ASCII digits, Cyrillic/Latin letters, registry punctuation). Known
engine-level parity limit found by wider generation: Python 3.11 and
Java 17 ship different Unicode tables, so astral-plane digits added in
newer Unicode versions (e.g. U+16AC4) satisfy Python's \d but not
Java's (?U)\d — BMP digits like Arabic-Indic ٠ agree (the (?U) flags
in transforms exist for exactly that).
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from gov_data_pipeline_spark.transforms import (
    is_excluded_col,
    merge_continuation_rows,
    normalize_reg_num_col,
)

# --- pure-Python models of the reference semantics ---------------------


def model_preprocess_reg_num(value: str) -> str:
    val = value.strip()
    if not val:
        return val
    val = re.sub(r"^№\s*", "", val)
    val = re.sub(r"\s*См\.\s*", " См. ", val)
    val = re.sub(r"\s*[–—]\s*", "-", val)
    val = re.sub(r"\s*-\s*", "-", val)
    val = re.sub(r"\s*/\s*", "/", val)
    val = re.sub(r"\s*\.\s*", ".", val)
    val = re.sub(r"(?<=\d)\s+(?=\d)", "", val)
    val = re.sub(r"(См\.)\s*(?=\S)", r"\1 ", val)
    val = re.sub(r"-{2,}", "-", val)
    val = re.sub(r"\s+", " ", val)
    return val.strip()


def model_is_excluded(row_text: str) -> bool:
    normalized = row_text.casefold().replace("ё", "е")
    pattern = r"(?<![а-я])" + r"\s*".join("исключен") + r"(?![а-я])"
    return re.search(pattern, normalized, flags=re.IGNORECASE) is not None


def model_merge(rows: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Reference merge_continued_rows over (key, val) rows."""

    def is_new(v: str) -> bool:
        return bool(re.match(r"^(?:№?\d{4,})(/ТЗ.*)?", v.strip()))

    merged: list[dict] = []
    prev: dict | None = None
    for key, val in rows:
        if key.strip().startswith("Name:"):
            continue
        if is_new(key):
            if prev is not None:
                merged.append(prev)
            prev = {"k": key, "v": val}
        else:
            if prev is not None:
                for c, cur in (("k", key), ("v", val)):
                    cur = cur.strip()
                    if cur:
                        old = prev[c].strip()
                        prev[c] = (old + " " + cur).strip() if old else cur
            else:
                prev = {"k": key, "v": val}
    if prev is not None:
        merged.append(prev)
    return [(m["k"].strip(), m["v"].strip()) for m in merged]


# --- strategies --------------------------------------------------------

reg_num_fragment = st.one_of(
    st.just("№"),
    st.just("См."),
    st.just("/ТЗ"),
    st.just("–"),
    st.just("-"),
    st.just("."),
    st.from_regex(r"[0-9٠]{1,5}", fullmatch=True),
    st.just(" "),
    st.just("  "),
    st.from_regex(r"[а-яa-z]{1,4}", fullmatch=True),
)

reg_nums = st.lists(reg_num_fragment, min_size=0, max_size=8).map("".join)

key_cells = st.one_of(
    st.from_regex(r"№?[0-9٠]{4,6}(/ТЗ)?", fullmatch=True),  # new-record keys
    st.from_regex(r"[а-я ]{0,10}", fullmatch=True),      # continuations
    st.just("Name: шум"),
    st.just(""),
)
val_cells = st.from_regex(r"[a-zа-я ]{0,12}", fullmatch=True)


@pytest.mark.usefixtures("spark")
class TestProperties:
    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(values=st.lists(reg_nums, min_size=1, max_size=30))
    def test_reg_num_matches_reference_model(self, spark, values):
        df = spark.createDataFrame([(v,) for v in values], "x string")
        got = [
            r[0]
            for r in df.select(normalize_reg_num_col(F.col("x")).alias("y")).collect()
        ]
        want = [model_preprocess_reg_num(v) for v in values]
        assert got == want

    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        texts=st.lists(
            st.from_regex(r"[а-яa-z ёЁ.,]{0,40}", fullmatch=True),
            min_size=1,
            max_size=30,
        )
    )
    def test_exclusion_matches_reference_model(self, spark, texts):
        df = spark.createDataFrame([(t,) for t in texts], "x string")
        got = [r[0] for r in df.select(is_excluded_col("x").alias("y")).collect()]
        want = [model_is_excluded(t) for t in texts]
        assert got == want

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.lists(st.tuples(key_cells, val_cells), min_size=1, max_size=25)
    )
    def test_merge_matches_reference_model(self, spark, rows):
        df = spark.createDataFrame(
            [(i, k, v) for i, (k, v) in enumerate(rows)],
            "idx long, k string, v string",
        )
        out = merge_continuation_rows(df, key_col="k", idx_col="idx").collect()
        got = [(r["k"], r["v"]) for r in out]
        want = model_merge(rows)
        assert got == want


# --- winnowing fingerprints vs pure-Python model -----------------------


def model_winnowing(text: str, k: int = 8, w: int = 16) -> set[int]:
    """Direct implementation of Schleimer et al. winnowing with the
    engine's gram hash (first 8 hex chars of md5, as unsigned int)."""
    import hashlib

    t = text.strip().lower()
    gh = lambda g: int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16)  # noqa: E731
    if len(t) < k:
        return {gh(t)}
    hs = [gh(t[i : i + k]) for i in range(len(t) - k + 1)]
    if len(hs) < w:
        return {min(hs)}
    return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from(
                list("abcdefghij ABCXYZ0123 .,-№абвгд")
            ),
            min_size=0,
            max_size=200,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_winnowing_matches_model(spark, texts):
    from gov_data_pipeline_spark.operators.dedup import winnowing_fingerprints_df

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, set[int]] = {i: set() for i in range(len(texts))}
    for r in winnowing_fingerprints_df(df, "doc_id", F.col("text")).collect():
        got[r["doc_id"]].add(r["fp"])
    want = {i: model_winnowing(t) for i, t in enumerate(texts)}
    assert got == want


class _UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _assert_cc_matches_union_find(spark, edges):
    from gov_data_pipeline_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}

    uf = _UnionFind()
    nodes = set()
    for a, b in edges:
        if a != b:
            uf.union(a, b)
            nodes.update((a, b))
    # canonical label = min of each component
    want = {}
    roots = {}
    for n in sorted(nodes):
        r = uf.find(n)
        roots.setdefault(r, n)
        want[n] = roots[r]
    assert got == want


_CC_EDGES = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)),
    min_size=1,
    max_size=40,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(edges=_CC_EDGES)
def test_connected_components_matches_union_find(spark, edges):
    """Connected components must agree with a sequential union-find on
    arbitrary small graphs (self-loops and duplicate edges included).
    Small edge sets take the driver-side union-find path."""
    _assert_cc_matches_union_find(spark, edges)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=_CC_EDGES)
def test_connected_components_star_rounds_match_union_find(spark, monkeypatch, edges):
    """The same property with the driver-side size gate at 0, so every
    edge set runs the distributed large-star/small-star rounds."""
    from gov_data_pipeline_spark.operators import graph

    monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", 0)
    _assert_cc_matches_union_find(spark, edges)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    names=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=8),
        min_size=1,
        max_size=12,
    )
)
def test_fuzzy_join_matches_blocked_brute_force(spark, names):
    """fuzzy_join_blocked must return exactly the pairs a brute-force
    scan finds among same-block (shared 2-prefix, length within 2)
    candidates at levenshtein <= 2 — the operator's documented
    contract, including the prefix-escape exclusion."""
    import pyspark.sql.functions as F

    from gov_data_pipeline_spark.operators.dedup import fuzzy_join_blocked

    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r["a_id"], r["b_id"], r["distance"])
        for r in fuzzy_join_blocked(
            df, df, "id", "id", F.col("name"), F.col("name"),
            max_distance=2, prefix_len=2,
        ).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (i, j, lev(a, b))
        for i, a in rows
        for j, b in rows
        if a[:2] == b[:2] and abs(len(a) - len(b)) <= 2 and lev(a, b) <= 2
    }
    assert got == want


# --- chunking invariants ------------------------------------------------


@st.composite
def _docs_for_chunking(draw):
    n_docs = draw(st.integers(1, 5))
    docs = []
    for i in range(n_docs):
        n_words = draw(st.integers(0, 60))
        words = [f"w{draw(st.integers(0, 9))}" for _ in range(n_words)]
        docs.append((i, " ".join(words)))
    return docs


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(docs=_docs_for_chunking())
def test_chunking_covers_every_word_with_exact_overlap(spark, docs):
    """Invariants of chunk_documents vs a direct Python model: chunk i
    is exactly words[i*stride : i*stride+size]; every word appears in
    at least one chunk; every doc yields >= 1 chunk."""
    from gov_data_pipeline_spark.functions.chunking import chunk_documents

    size, overlap = 12, 4
    stride = size - overlap
    df = spark.createDataFrame(docs, "id long, t string")
    got = {}
    for r in chunk_documents(df, "id", "t", chunk_size=size, overlap=overlap).collect():
        got.setdefault(r["id"], {})[r["chunk_id"]] = r["chunk"]

    for doc_id, text in docs:
        words = text.strip().split() if text.strip() else [""]
        # model: same split convention as the operator (split of "" -> [""])
        if text == "":
            words = [""]
        import math

        n_chunks = max(1, math.ceil((len(words) - overlap) / stride))
        chunks = got[doc_id]
        assert sorted(chunks) == list(range(n_chunks))
        covered = set()
        for i in range(n_chunks):
            expect = words[i * stride : i * stride + size]
            assert chunks[i].split(" ") == expect or (
                chunks[i] == "" and expect == [""]
            )
            covered.update(range(i * stride, min(i * stride + size, len(words))))
        assert covered == set(range(len(words)))


# --- document codec roundtrips -----------------------------------------

# XML 1.0-valid text: the codecs write cell values into XML, so the
# property domain excludes control chars XML cannot carry (the writer's
# contract is registry text, not arbitrary bytes).
_xml_text = st.text(
    alphabet=st.characters(
        codec="utf-8",
        categories=("L", "N", "P", "S", "Zs"),
        include_characters=" \tабвгд№ТЗ<>&\"'",
    ),
    max_size=40,
)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=st.lists(st.lists(_xml_text, max_size=5), min_size=1, max_size=6))
def test_xlsx_roundtrip_matches_model(rows):
    """write_xlsx -> read_xlsx_rows is the identity up to the format's
    own conventions: trailing empty-string cells survive (inline
    strings), rows keep their positions."""
    from gov_data_pipeline_spark.sources.xlsx_zip import read_xlsx_rows, write_xlsx

    back = read_xlsx_rows(write_xlsx(rows))
    assert len(back) == len(rows)
    for got, want in zip(back, rows):
        assert got == list(want)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.lists(_xml_text, min_size=1, max_size=4), min_size=1, max_size=6
    )
)
def test_docx_roundtrip_matches_python_docx_strip(rows):
    """write_docx_table -> read_docx_tables equals the python-docx
    semantics the reference relies on: cell.text.strip() per cell."""
    from gov_data_pipeline_spark.sources.docx_zip import (
        read_docx_tables,
        write_docx_table,
    )

    back = read_docx_tables(write_docx_table(rows))
    assert back == [[[c.strip() for c in row] for row in rows]]


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    versions=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(0, 5)),
        min_size=1,
        max_size=25,
    ),
    facts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 20)),
        min_size=1,
        max_size=25,
    ),
)
def test_asof_join_matches_backward_model_no_leakage(spark, versions, facts):
    """The as-of join must attach, per fact, the version with the
    greatest (ts, tiebreak) <= fact ts within the key — and NEVER a
    version from the fact's future (the PIT-leakage property q98
    relies on). Duplicate timestamps and keys included."""
    from gov_data_pipeline_spark.operators.relational import asof_join

    vdf = spark.createDataFrame(
        [(k, ts, v) for k, ts, v in versions], "k long, vts long, val long"
    )
    fdf = spark.createDataFrame(list(facts), "k long, fts long")
    # model: max by (vts, val) among vts <= fts — val is the only
    # tiebreak column, mirroring the struct-max contract
    rows = sorted(
        asof_join(fdf, vdf, on="k", left_time="fts", right_time="vts")
        .orderBy("k", "fts")
        .collect(),
        key=lambda r: (r["k"], r["fts"]),
    )
    model_facts = sorted(facts)
    assert len(rows) == len(model_facts)
    for r in rows:
        cands = [(ts, v) for k, ts, v in versions if k == r["k"] and ts <= r["fts"]]
        want = max(cands) if cands else None
        if want is None:
            assert r["asof_vts"] is None and r["asof_val"] is None
        else:
            assert (r["asof_vts"], r["asof_val"]) == want
            assert r["asof_vts"] <= r["fts"]  # no future leakage, ever


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    )
)
def test_rank_winsorize_matches_python_model(spark, rows):
    """q96's rank-percentile arithmetic must agree exactly with a
    sequential model: bound = sorted(group)[floor((n-1)*p)], clamp,
    sum — including singleton groups and all-equal values."""
    from pyspark.sql import Window as W

    data = [(g, float(v), i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g long, x double, rid long")
    wo = W.partitionBy("g").orderBy("x", "rid")
    wall = W.partitionBy("g")
    ranked = df.select(
        "g", "x",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("cnt"),
    )
    lo_r = F.floor((F.col("cnt") - 1) * 5 / 100) + 1
    hi_r = F.floor((F.col("cnt") - 1) * 95 / 100) + 1
    bounds = (
        ranked.filter((F.col("rn") == lo_r) | (F.col("rn") == hi_r))
        .groupBy("g")
        .agg(
            F.min(F.when(F.col("rn") == lo_r, F.col("x"))).alias("lo"),
            F.max(F.when(F.col("rn") == hi_r, F.col("x"))).alias("hi"),
        )
    )
    got = {
        r["g"]: (r["lo"], r["hi"], r["s"])
        for r in df.join(bounds, "g")
        .groupBy("g")
        .agg(
            F.min("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.sum(F.least(F.greatest(F.col("x"), F.col("lo")), F.col("hi"))).alias("s"),
        )
        .collect()
    }

    import collections
    groups = collections.defaultdict(list)
    for g, v, i in data:
        groups[g].append((v, i))
    for g, vals in groups.items():
        xs = [v for v, _ in sorted(vals)]
        n = len(xs)
        lo = xs[(n - 1) * 5 // 100]
        hi = xs[(n - 1) * 95 // 100]
        s = sum(min(max(v, lo), hi) for v in xs)
        assert got[g][0] == lo and got[g][1] == hi
        assert abs(got[g][2] - s) < 1e-9 * max(1.0, abs(s))


# ---------------------------------------------------------------------------
# Crawl-side web surface (functions/web.py): URL normalization
# idempotence + robots evaluation vs a pure-Python RFC 9309 model.
# ---------------------------------------------------------------------------

_url_path_chars = list("abcXYZ09/._-%")
_url_q_chars = list("abz09=&_")


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
    host=st.text(alphabet=list("aBc09.-"), min_size=1, max_size=12),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=st.text(alphabet=_url_path_chars, min_size=0, max_size=20),
    query=st.text(alphabet=_url_q_chars, min_size=0, max_size=20),
    frag=st.sampled_from(["", "#x", "#sec-1"]),
)
def test_url_normalize_idempotent(spark, scheme, host, port, path, query, frag):
    """normalize(normalize(u)) == normalize(u): canonicalization must
    be a projection — a second pass changes nothing (the property that
    makes frontier dedup by string equality sound)."""
    from gov_data_pipeline_spark.functions.web import url_normalize_col

    url = f"{scheme}://{host}{port}/{path}"
    if query:
        url += f"?{query}"
    url += frag
    df = spark.createDataFrame([(url,)], "u string")
    once = df.select(url_normalize_col(F.col("u")).alias("n"))
    row = once.select(
        "n", url_normalize_col(F.col("n")).alias("n2")
    ).collect()[0]
    assert row["n"] == row["n2"], url


def _model_robots_allowed(robots_txt: str, agent: str, path: str) -> bool:
    """Sequential RFC 9309 model: group parsing, specific-agent
    precedence, longest-prefix match, allow tie-break."""
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[bool, str]] = []
    in_header = False
    for raw in re.sub(r"(?m)#.*$", "", robots_txt).splitlines():
        line = raw.strip()
        m = re.match(r"(?i)^user-agent\s*:(.*)$", line)
        if m:
            if not in_header:
                if cur_agents:
                    groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
                in_header = True
            cur_agents.append(m.group(1).strip().lower())
            continue
        in_header = False
        m = re.match(r"(?i)^(allow|disallow)\s*:(.*)$", line)
        if m and m.group(2).strip():
            cur_rules.append(
                (m.group(1).lower() == "allow", m.group(2).strip())
            )
    if cur_agents:
        groups.append((cur_agents, cur_rules))
    agent = agent.lower()
    exact = [g for g in groups if agent in g[0]]
    star = [g for g in groups if "*" in g[0]]
    active = exact if exact else star
    rules = [r for g in active for r in g[1]]
    matching = [r for r in rules if path.startswith(r[1])]
    if not matching:
        return True
    # longest prefix wins; ties go to allow
    return max(matching, key=lambda r: (len(r[1]), r[0]))[0]


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    groups=st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(["*", "googlebot", "ourbot", "other"]),
                min_size=1,
                max_size=2,
            ),
            st.lists(
                st.tuples(
                    st.booleans(),
                    st.sampled_from(
                        ["/a", "/a/b", "/a/bc", "/tmp", "/files", ""]
                    ),
                ),
                min_size=0,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=3,
    ),
    agent=st.sampled_from(["ourbot", "googlebot", "nobody"]),
    path=st.sampled_from(["/a/b/c", "/a/bcd", "/tmp/x", "/files", "/else"]),
)
def test_robots_matches_model(spark, groups, agent, path):
    from gov_data_pipeline_spark.functions.web import (
        robots_allowed_col,
        robots_rules_col,
    )

    lines = []
    for agents, rules in groups:
        for a in agents:
            lines.append(f"User-agent: {a}")
        for allow, prefix in rules:
            lines.append(f"{'Allow' if allow else 'Disallow'}: {prefix}")
        lines.append("")
    robots = "\n".join(lines)
    df = spark.createDataFrame([(robots,)], "r string")
    got = df.select(
        robots_allowed_col(
            robots_rules_col(F.col("r"), F.lit(agent)), F.lit(path)
        ).alias("ok")
    ).collect()[0]["ok"]
    want = _model_robots_allowed(robots, agent, path)
    assert got == want, f"{robots!r} agent={agent} path={path}"


def test_training_export_example_end_to_end(spark, tmp_path):
    """examples/training_export.py composes dedup -> decontaminate ->
    quality gate -> budget mixture -> packing -> sharded JSONL; pin the
    stage contract: counts shrink monotonically through the filters,
    the mixture genuinely bites (40% char budget), exactly 4 gzip
    shards land, and the export reads back row-for-row."""
    import glob
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "training_export",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "training_export.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "export")
    counts = mod.run(spark, "/root/testdata/sf0.001", out)
    assert counts["loaded"] == 500
    assert (
        counts["loaded"]
        >= counts["deduped"]
        > counts["decontaminated"]
        >= counts["quality_gated"]
        > counts["mixed"]
        > 0
    )
    assert counts["packed"] == counts["mixed"]
    assert 0 < counts["packs"] <= counts["packed"]
    # r12: the export is the SEEDED shuffle layout — one gzip data
    # file per shard=K directory, reproducible byte-for-byte
    parts = glob.glob(out + "/shard=*/part-*.gz")
    assert len(parts) == 4
    assert len(glob.glob(out + "/shard=*")) == 4
    back = spark.read.json(out)
    assert back.count() == counts["packed"]


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # doc_id
            st.sampled_from(["a", "b", "c"]),            # group
            st.integers(min_value=1, max_value=500),     # size
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    num_den=st.sampled_from([(2, 5), (1, 2), (1, 10), (1, 1)]),
)
def test_budget_sample_matches_greedy_model(spark, rows, num_den):
    """functions/sampling.budget_sample vs the pure-Python greedy
    model: within each group, walk ids in (md5(id), id) order and keep
    rows while cumulative size stays within num/den of the group
    total. Pins (a) exact membership, (b) the running `cum` values,
    and (c) maximality — the FIRST excluded row of each group would
    overshoot the budget."""
    import hashlib
    from collections import defaultdict

    from gov_data_pipeline_spark.functions.sampling import budget_sample

    num, den = num_den
    groups = defaultdict(list)
    for doc_id, g, size in rows:
        groups[g].append((doc_id, size))
    expect: dict[int, int] = {}
    for g, members in groups.items():
        members.sort(
            key=lambda t: (hashlib.md5(str(t[0]).encode()).hexdigest(), t[0])
        )
        total = sum(s for _, s in members)
        cum = 0
        for doc_id, size in members:
            if (cum + size) * den <= total * num:
                cum += size
                expect[doc_id] = cum
            else:
                # maximality: this row overshoots, so it (and, in the
                # prefix semantics, everything after it) is excluded
                break

    df = spark.createDataFrame(rows, "doc_id long, g string, size long")
    got = {
        r["doc_id"]: r["cum"]
        for r in budget_sample(df, "doc_id", "g", "size", num, den).collect()
    }
    assert got == expect


def test_budget_sample_rejects_reserved_column_names(spark):
    """budget_sample's `cum` output and `__tot` scratch would silently
    REPLACE same-named input columns via withColumn; the operator must
    refuse instead (ADVICE r06)."""
    import pytest

    from gov_data_pipeline_spark.functions.sampling import budget_sample

    base = [(1, "a", 10)]
    for bad in ("cum", "__tot", "CUM", "__Tot"):
        df = spark.createDataFrame(
            base, "doc_id long, g string, size long"
        ).withColumn(bad, F.lit(0))
        with pytest.raises(ValueError, match=bad):
            budget_sample(df, "doc_id", "g", "size", 1, 2)


def test_epoch_mixture_realizes_weights(spark, sf_dir):
    """q146: per-lang expected multiple = whole + cut/256, realized on
    the fixture within a loose hash-binomial tolerance; epochs are
    contiguous 1..copies per doc; en survivors carry exactly 1 copy."""
    import pyspark.sql.functions as F

    from gov_data_pipeline_spark.catalog import read_table
    from gov_data_pipeline_spark.queries.corpus_ops import (
        _Q146_WEIGHTS,
        q146_epoch_mixture,
    )

    out = q146_epoch_mixture(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents")
    n_by_lang = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    rows_by_lang = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, (whole, cut) in _Q146_WEIGHTS.items():
        expect = n_by_lang[lang] * (whole + cut / 256)
        got = rows_by_lang.get(lang, 0)
        assert abs(got - expect) <= 4 * (n_by_lang[lang] ** 0.5) + 1, (
            lang, got, expect)
    # epochs contiguous from 1
    bad = (
        out.groupBy("doc_id")
        .agg(F.min("epoch").alias("lo"), F.max("epoch").alias("hi"),
             F.count(F.lit(1)).alias("n"))
        .filter((F.col("lo") != 1) | (F.col("hi") != F.col("n")))
        .count()
    )
    assert bad == 0


def test_event_throttle_burst_invariants(spark, sf_dir):
    """q148: within each (user, type) stream ordered by (ts, event_id),
    an event is kept iff it has no predecessor within the 24 h gap —
    i.e. kept <=> burst head; suppressed events always have a
    predecessor within the gap; burst ids are contiguous from 1."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from gov_data_pipeline_spark.catalog import read_table
    from gov_data_pipeline_spark.queries.events_analytics import (
        _Q148_GAP_US,
        q148_event_throttle,
    )

    out = q148_event_throttle(spark, sf_dir)
    ev = read_table(spark, sf_dir, "events").select("event_id", "ts")
    j = out.join(ev, "event_id")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    chk = j.withColumn("gap", gap)
    # kept <=> no predecessor within gap
    assert chk.filter(
        (F.col("kept") & F.col("gap").isNotNull() & (F.col("gap") <= _Q148_GAP_US))
        | (~F.col("kept") & (F.col("gap").isNull() | (F.col("gap") > _Q148_GAP_US)))
    ).count() == 0
    # per stream: bursts number 1..max contiguously, one kept head each
    agg = (
        chk.groupBy("user_id", "event_type")
        .agg(
            F.max("burst_id").alias("mx"),
            F.count_distinct("burst_id").alias("nd"),
            F.sum(F.col("kept").cast("long")).alias("heads"),
        )
    )
    assert agg.filter(
        (F.col("mx") != F.col("nd")) | (F.col("heads") != F.col("nd"))
    ).count() == 0


# --- duplicate-passage spans vs pure-Python model -----------------------


def model_passage_spans(
    docs: dict[int, str], n: int = 3, min_grams: int = 2
) -> set[tuple[int, int, int, int]]:
    """Direct implementation of q144's semantics: positional word
    n-grams, cross-document frequency >= 2 (distinct docs), maximal
    consecutive runs of >= min_grams duplicated positions."""
    grams: dict[int, list[str]] = {}
    for d, text in docs.items():
        ws = [w for w in text.strip().split()]
        # split('\s+') of a whitespace-only string yields [''] — mirror
        # Spark's split+size semantics: doc shorter than n words drops
        if len(ws) < n or ws == [""]:
            continue
        grams[d] = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
    docs_per_gram: dict[str, set[int]] = {}
    for d, gs in grams.items():
        for g in set(gs):
            docs_per_gram.setdefault(g, set()).add(d)
    spans: set[tuple[int, int, int, int]] = set()
    for d, gs in grams.items():
        run_start = None
        for i, g in enumerate(gs):
            dup = len(docs_per_gram[g]) >= 2
            if dup and run_start is None:
                run_start = i
            if (not dup or i == len(gs) - 1) and run_start is not None:
                end = i if dup else i - 1
                length = end - run_start + 1
                if length >= min_grams:
                    spans.add((d, run_start + 1, end + n, length))
                run_start = None
    return spans


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(list("abcdefg")), min_size=0, max_size=12
        ).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_duplicate_passage_spans_match_model(spark, texts):
    """Tiny 7-word alphabet forces heavy cross-doc gram collisions —
    the adversarial regime for the islands merge."""
    from gov_data_pipeline_spark.operators.dedup import duplicate_passage_spans

    docs = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.start_word, r.end_word, r.n_grams)
        for r in duplicate_passage_spans(
            df, "doc_id", F.col("text"), n=3, min_grams=2
        ).collect()
    }
    want = model_passage_spans(docs, n=3, min_grams=2)
    assert got == want


# --- NFD packer vs pure-Python model ------------------------------------


def model_nfd_pack(
    rows: list[tuple[int, int, int]], capacity: int
) -> set[tuple[int, int, int, int]]:
    """(shard, id, size) -> {(shard, id, size, bin)} under
    next-fit-decreasing with (size desc, id asc) order per shard."""
    out: set[tuple[int, int, int, int]] = set()
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for shard, i, s in rows:
        by_shard.setdefault(shard, []).append((i, s))
    for shard, items in by_shard.items():
        items.sort(key=lambda t: (-t[1], t[0]))
        cur, used = 0, capacity + 1
        for i, s in items:
            if used + s > capacity:
                cur, used = cur + 1, s
            else:
                used += s
            out.add((shard, i, s, cur))
    return out


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # shard
            st.integers(min_value=0, max_value=40),  # size (0, ties, oversize)
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(min_value=1, max_value=30),          # capacity
)
def test_nfd_packer_matches_model(spark, rows, capacity):
    from gov_data_pipeline_spark.functions.chunking import pack_documents_nfd

    data = [(shard, i, s) for i, (shard, s) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "shard int, doc_id long, n_chars long"
    )
    got = {
        (r.shard, r.doc_id, r.n_chars, r.bin)
        for r in pack_documents_nfd(
            df, "doc_id", "n_chars", "shard", capacity=capacity
        ).collect()
    }
    assert got == model_nfd_pack(data, capacity)


# --- event throttle vs pure-Python model --------------------------------


def model_throttle(
    rows: list[tuple[int, str, int, int]], gap_us: int
) -> set[int]:
    """(user, type, event_id, ts_us) -> kept event_ids under chain
    semantics: within each (user, type) ordered by (ts, id), keep iff
    no predecessor within gap; every event advances the anchor."""
    kept: set[int] = set()
    by_key: dict[tuple[int, str], list[tuple[int, int]]] = {}
    for u, t, e, us in rows:
        by_key.setdefault((u, t), []).append((us, e))
    for items in by_key.values():
        items.sort()
        last = None
        for us, e in items:
            if last is None or us - last > gap_us:
                kept.add(e)
            last = us
    return kept


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # user
            st.sampled_from(["a", "b"]),                # type
            st.integers(min_value=0, max_value=3600),   # ts seconds
        ),
        min_size=1,
        max_size=30,
        ),
    st.integers(min_value=1, max_value=1200),           # gap seconds
)
def test_throttle_batch_matches_model(spark, rows, gap_s):
    import datetime as dt

    from gov_data_pipeline_spark.streaming import throttle_dedup

    base = dt.datetime(2024, 1, 1)
    data = [
        (u, t, e, base + dt.timedelta(seconds=s))
        for e, (u, t, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id long, event_type string, event_id long, ts timestamp"
    )
    got = {
        r.event_id
        for r in throttle_dedup(df, gap_seconds=gap_s).collect()
    }
    want = model_throttle(
        [(u, t, e, s * 1_000_000) for e, (u, t, s) in enumerate(rows)],
        gap_s * 1_000_000,
    )
    assert got == want


# ---------------------------------------------------------------------------
# mock-BPE tokenizer: the Arrow-batched count, its pure-Python scheme,
# and the DuckDB SQL twin (MOCK_BPE_SQL) must agree on EVERY text —
# the q153 token budgets are only oracle-checkable if the three never
# drift. The alphabet deliberately mixes the adversarial classes the
# unicode sweep uses (CJK, emoji, combining, zero-width, nbsp) with
# the ASCII separators the explicit char class names.
# ---------------------------------------------------------------------------

_TOK_ALPHABET = st.sampled_from(
    list("ab z09._-,;")
    + ["\t", "\n", "\f", "\r", "é", "ß", "你", "好", "\U0001f600",
       "́", "​", "‍", " ", "　", "ﬁ"]
)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.text(_TOK_ALPHABET, max_size=30)),
        min_size=1,
        max_size=20,
    )
)
def test_mock_bpe_tokenizer_three_way_parity(spark, texts):
    import duckdb

    from gov_data_pipeline_spark.functions.tokenizer import (
        MOCK_BPE_SQL,
        _count_one,
        mock_bpe_token_count,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r.i: r.n
        for r in df.select(
            "i", mock_bpe_token_count(F.col("text")).alias("n")
        ).collect()
    }
    con = duckdb.connect()
    sql = (
        f"SELECT i, {MOCK_BPE_SQL.format(col='text')} AS n "
        "FROM (SELECT unnest(?) AS i, unnest(?) AS text)"
    )
    duck = dict(
        con.execute(sql, [list(range(len(texts))), list(texts)]).fetchall()
    )
    model = {i: _count_one(t) for i, t in enumerate(texts)}
    assert got == duck == model


# ---------------------------------------------------------------------------
# real-tokenizer adapter (r11): tiktoken-format ranks file round-trip,
# the byte-pair-merge counting kernel vs an independent pure-Python
# model, and the mock-vs-real budget drift on fixture text.
# ---------------------------------------------------------------------------

_BPE_RANKS = {
    b"th": 0, b"he": 1, b"the": 2, b"ab": 3, b"ba": 4, b"aba": 5,
    b"\xe4\xbd\xa0\xe5\xa5\xbd": 6,  # multibyte merge: 你好
}


def _bpe_model_count(text, ranks):
    """Independent reference: lowest-rank-first, leftmost ties, per
    whitespace word — written differently from the adapter (sorted
    scan over rank order) so a shared bug can't hide."""
    import re as _re

    if text is None:
        return 0
    total = 0
    for w in _re.findall(r"[^ \t\n\f\r]+", text):
        parts = [bytes([b]) for b in w.encode("utf-8")]
        while True:
            cands = [
                (ranks[parts[i] + parts[i + 1]], i)
                for i in range(len(parts) - 1)
                if parts[i] + parts[i + 1] in ranks
            ]
            if not cands:
                break
            _, i = min(cands)
            parts[i:i + 2] = [parts[i] + parts[i + 1]]
        total += len(parts)
    return total


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.text(_TOK_ALPHABET, max_size=30)),
        min_size=1,
        max_size=20,
    )
)
def test_real_bpe_count_matches_model(spark, texts):
    from gov_data_pipeline_spark.functions.tokenizer import bpe_token_count

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r.i: r.n
        for r in df.select(
            "i", bpe_token_count(F.col("text"), _BPE_RANKS).alias("n")
        ).collect()
    }
    want = {i: _bpe_model_count(t, _BPE_RANKS) for i, t in enumerate(texts)}
    assert got == want


def test_bpe_merge_cascade_hand_computed(spark):
    """'the' must take the full cascade t+h -> th (rank 0), th+e ->
    the (rank 2) down to ONE token; 'he' merges once; 'xyz' (no rank
    hits) stays 3 bytes = 3 tokens; the multibyte 你好 merges its six
    UTF-8 bytes into one token through the byte-level table."""
    from gov_data_pipeline_spark.functions.tokenizer import bpe_token_count

    rows = [(1, "the"), (2, "he"), (3, "xyz"), (4, "the the xyz")]
    df = spark.createDataFrame(rows, "i long, text string")
    got = {
        r.i: r.n
        for r in df.select(
            "i", bpe_token_count(F.col("text"), _BPE_RANKS).alias("n")
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3, 4: 5}
    # 你好: bytes e4 bd a0 e5 a5 bd — only the full 6-byte
    # concatenation is ranked, so no merge path exists byte-by-byte
    # (BPE needs intermediate merges); verify it stays 6 tokens, then
    # add the intermediates and verify it collapses to 1.
    df2 = spark.createDataFrame([(1, "你好")], "i long, text string")
    n_without = df2.select(
        bpe_token_count(F.col("text"), _BPE_RANKS).alias("n")
    ).first()["n"]
    assert n_without == 6
    full = dict(_BPE_RANKS)
    full.update({
        b"\xe4\xbd": 10, b"\xe4\xbd\xa0": 11,
        b"\xe5\xa5": 12, b"\xe5\xa5\xbd": 13,
    })
    n_with = df2.select(
        bpe_token_count(F.col("text"), full).alias("n")
    ).first()["n"]
    assert n_with == 1


def test_mergeable_ranks_file_roundtrip(spark, tmp_path):
    """dump -> load round-trips the tiktoken file format exactly, and
    counts computed through the loaded table equal counts through the
    in-memory table (the adapter's integration contract)."""
    from gov_data_pipeline_spark.functions.tokenizer import (
        bpe_token_count,
        dump_mergeable_ranks,
        load_mergeable_ranks,
    )

    path = str(tmp_path / "mini.tiktoken")
    dump_mergeable_ranks(_BPE_RANKS, path)
    loaded = load_mergeable_ranks(path)
    assert loaded == _BPE_RANKS
    # file format spot-check: base64 token + space + rank per line
    import base64

    first = open(path, "rb").read().splitlines()[0].split()
    assert base64.b64decode(first[0]) == b"th" and first[1] == b"0"
    df = spark.createDataFrame([(1, "the he ababa")], "i long, text string")
    n_mem = df.select(bpe_token_count(F.col("text"), _BPE_RANKS).alias("n")).first()["n"]
    n_file = df.select(bpe_token_count(F.col("text"), loaded).alias("n")).first()["n"]
    assert n_mem == n_file


def test_synthetic_mergeable_ranks_shape_and_counts(spark):
    """synthetic_mergeable_ranks (r12): deterministic across calls,
    tiktoken-shaped (256 single-byte base ranks first, 2-grams ranked
    before 3-grams before 4-grams), sized as asked, and dense enough
    that lowercase words actually cascade in the merge loop — the
    property that makes throughput measured against it representative
    of a learned English vocabulary."""
    from gov_data_pipeline_spark.functions.tokenizer import (
        bpe_token_count,
        synthetic_mergeable_ranks,
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match=">= 256"):
        synthetic_mergeable_ranks(100)  # below the single-byte base tier
    r1 = synthetic_mergeable_ranks(5000)
    r2 = synthetic_mergeable_ranks(5000)
    assert r1 == r2 and len(r1) == 5000
    assert all(r1[bytes([i])] == i for i in range(256))
    by_len = {}
    for tok, rank in r1.items():
        if rank >= 256:
            by_len.setdefault(len(tok), []).append(rank)
    # tiers don't interleave: every 2-gram rank < every 3-gram rank
    assert max(by_len[2]) < min(by_len[3])
    assert len(by_len[2]) == 676  # all [a-z] digrams present
    full = synthetic_mergeable_ranks(50304)
    assert len(full) == 50304 and max(full.values()) == 50303
    # with all 2/3-grams and sampled 4-grams, short lowercase words
    # collapse hard: 'hello' -> at most 2 tokens; 'the' -> 1
    df = spark.createDataFrame(
        [(1, "the hello data pipeline")], "i long, text string"
    )
    n = df.select(
        bpe_token_count(F.col("text"), full).alias("n")
    ).first()["n"]
    assert n <= 8, n  # 4 words, each <= 2 tokens


def test_mock_vs_real_budget_drift_on_fixture(spark, sf_dir):
    """The r10 verdict's budget-drift pin: the mock's ceil(len/4)
    scheme and a real merge-table count MUST diverge on fixture text —
    if they agreed, the adapter would be measuring nothing and q153
    packing budgets would be silently interchangeable with mock ones.
    q193 reports the drift per document; here we pin that it is
    nonzero for the overwhelming majority of documents."""
    from gov_data_pipeline_spark.queries.corpus_ops import (
        q193_bpe_ranks_count,
    )

    out = q193_bpe_ranks_count(spark, sf_dir).toPandas()
    assert (out["drift"] != 0).mean() > 0.9
    # real counts are bounded by character count and at least the
    # whitespace word count — sanity for the merge kernel
    assert (out["n_tokens_bpe"] > 0).all()


# --- interval_join vs the naive quadratic model -------------------------


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2"]),              # key
            st.integers(min_value=0, max_value=400),    # start day offset
            st.integers(min_value=0, max_value=70),     # duration days
        ),
        min_size=0,
        max_size=25,
    ),
    bin_days=st.sampled_from([7, 30, 365]),
)
def test_interval_join_matches_naive_model(spark, rows, bin_days):
    """operators/relational.interval_join vs the quadratic model: the
    binning decomposition must yield EXACTLY the overlapping pairs,
    each EXACTLY once — including intervals spanning many bins,
    touching at a single endpoint day, or far longer than the bin."""
    import datetime as dt

    from gov_data_pipeline_spark.operators.relational import interval_join

    epoch = dt.date(1995, 1, 1)
    items = [
        (i, k, epoch + dt.timedelta(days=s), epoch + dt.timedelta(days=s + d))
        for i, (k, s, d) in enumerate(rows)
    ]
    left = spark.createDataFrame(
        [(i, k, s, e) for (i, k, s, e) in items],
        "a_id int, k string, a_st date, a_en date",
    )
    right = spark.createDataFrame(
        [(i, k, s, e) for (i, k, s, e) in items],
        "b_id int, k string, b_st date, b_en date",
    )
    got = sorted(
        (r.a_id, r.b_id)
        for r in interval_join(
            left, right, on="k",
            left_start="a_st", left_end="a_en",
            right_start="b_st", right_end="b_en",
            bin_days=bin_days,
        ).collect()
    )
    want = sorted(
        (i1, i2)
        for (i1, k1, s1, e1) in items
        for (i2, k2, s2, e2) in items
        if k1 == k2 and s1 <= e2 and s2 <= e1
    )
    assert got == want  # equality pins both completeness AND exactly-once


# --- sparse_cosine_topk vs a pure-Python model ---------------------------


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),      # doc id
            st.sampled_from(list("abcdefgh")),           # term
        ),
        min_size=1,
        max_size=80,
    ),
    df_cap=st.sampled_from([1, 3, 100]),
)
def test_sparse_cosine_matches_python_model(spark, rows, df_cap):
    """operators/search.sparse_cosine_topk vs a pure-Python replica of
    its integer fixed-point pipeline (idf = n*1000 div df, int64 dot
    and norms, float only at the final divide). Pins membership, rank
    order (ties by neighbor id), and the 4-decimal score — i.e. the
    bit-identical-float claim the oracle relies on."""
    import math
    from collections import Counter, defaultdict

    from gov_data_pipeline_spark.operators.search import sparse_cosine_topk

    df_rows = spark.createDataFrame(rows, "doc_id int, term string")
    got = [
        (r.doc_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in sparse_cosine_topk(df_rows, id_col="doc_id", k=3, df_cap=df_cap)
        .orderBy("doc_id", "rank")
        .collect()
    ]

    tf = Counter(rows)
    docs = sorted({d for d, _ in rows})
    n = len(docs)
    dfreq = Counter(t for (d, t) in tf)
    idf = {t: (n * 1000) // c for t, c in dfreq.items() if c <= df_cap}
    vecs = defaultdict(dict)
    for (d, t), c in tf.items():
        if t in idf:
            vecs[d][t] = c * idf[t]
    want = []
    for d in docs:
        cands = []
        for d2 in docs:
            if d2 == d or not vecs[d] or not vecs[d2]:
                continue
            dot = sum(w * vecs[d2].get(t, 0) for t, w in vecs[d].items())
            if dot == 0:
                continue
            n2a = sum(w * w for w in vecs[d].values())
            n2b = sum(w * w for w in vecs[d2].values())
            s = float(dot) / (math.sqrt(float(n2a)) * math.sqrt(float(n2b)))
            cands.append((-s, d2))
        for rk, (neg_s, d2) in enumerate(sorted(cands)[:3], start=1):
            want.append((d, d2, round(-neg_s, 4), rk))
    # Spark round() is HALF_UP, Python round() is banker's — compare at
    # tolerance 1e-4 on the score, exactly on everything else.
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:2] == w[:2] and g[3] == w[3]
        assert abs(g[2] - w[2]) <= 1e-4


# --- capped_session_stats (batch twin) vs a pure-Python model ------------


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),        # user
            st.integers(min_value=0, max_value=500_000),  # offset seconds
            st.integers(min_value=-99, max_value=999),    # value x100
        ),
        min_size=0,
        max_size=40,
    ),
    params=st.sampled_from([(3600, 1), (3600, 3), (86400, 4)]),
)
def test_capped_sessions_match_python_model(spark, rows, params):
    """streaming/stateful.capped_session_stats (batch twin — the q157
    plan) vs a sequential pure-Python replica of the streaming state
    machine. Equality here is the bridge between the oracle (checks the
    two-window SQL) and the stream==batch test (checks the state
    machine) — all three must be one semantics."""
    import datetime as dt

    from gov_data_pipeline_spark.streaming import capped_session_stats

    gap_s, cap = params
    epoch = dt.datetime(2024, 1, 1)
    events = [
        (i, u, epoch + dt.timedelta(seconds=s), v / 100.0, "{}")
        for i, (u, s, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        events, "event_id long, user_id long, ts timestamp, value double, props string"
    )
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_cents)
        for r in capped_session_stats(
            df, gap_seconds=gap_s, max_events=cap
        ).collect()
    )

    from collections import defaultdict

    per_user = defaultdict(list)
    for i, (u, s, v) in enumerate(rows):
        per_user[u].append((epoch + dt.timedelta(seconds=s), i, v))
    want = []
    for u, evs in per_user.items():
        st_ = None  # (start, last, n, cents)
        for ts, _i, v in sorted(evs):
            if st_ is None:
                st_ = (ts, ts, 1, v)
            elif (ts - st_[1]).total_seconds() > gap_s:
                want.append((u, *st_))
                st_ = (ts, ts, 1, v)
            else:
                st_ = (st_[0], ts, st_[2] + 1, st_[3] + v)
            if st_[2] >= cap:
                want.append((u, *st_))
                st_ = None
        if st_ is not None:
            want.append((u, *st_))  # batch mode flushes trailing sessions
    want = sorted((u, a, b, n, c) for (u, a, b, n, c) in want)
    assert got == want


# --- token_bucket_throttle (batch twin) vs a pure-Python model -----------


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),        # user
            st.integers(min_value=0, max_value=500_000),  # offset seconds
        ),
        min_size=0,
        max_size=40,
    ),
    params=st.sampled_from([(1, 3600, 1), (1, 86400, 2), (3, 3600, 5)]),
)
def test_token_bucket_matches_python_model(spark, rows, params):
    """streaming/stateful.token_bucket_throttle (batch twin — the q161
    plan) vs a sequential pure-Python replica of the bucket state
    machine, integer balance units and all."""
    import datetime as dt
    from collections import defaultdict

    from gov_data_pipeline_spark.streaming import token_bucket_throttle

    rate, per_s, burst = params
    epoch = dt.datetime(2024, 1, 1)
    events = [
        (i, u, epoch + dt.timedelta(seconds=s), 0.0, "{}")
        for i, (u, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        events, "event_id long, user_id long, ts timestamp, value double, props string"
    )
    got = sorted(
        (r.user_id, r.event_id, r.ts, r.tokens_after)
        for r in token_bucket_throttle(
            df, rate_tokens=rate, per_seconds=per_s, burst=burst
        ).collect()
    )

    unit = per_s * 1_000_000
    per_user = defaultdict(list)
    for i, (u, s) in enumerate(rows):
        per_user[u].append((epoch + dt.timedelta(seconds=s), i))
    want = []
    for u, evs in per_user.items():
        tokens, last_us = burst * unit, None
        for ts, i in sorted(evs):
            us = int(ts.timestamp() * 1_000_000)
            if last_us is not None:
                tokens = min(tokens + (us - last_us) * rate, burst * unit)
            if tokens >= unit:
                tokens -= unit
                want.append((u, i, ts, tokens))
            last_us = us
    assert got == sorted(want)


@settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=1, max_size=12
        ),
        min_size=2,
        max_size=8,
    )
)
def test_containment_dedup_matches_brute_force_model(spark, docs):
    """containment_pairs_text -> containment_dedup must agree with an
    exact pure-Python model on arbitrary small corpora: shingle-set
    containment ratios, the per-edge loser rule (mutual -> max id,
    one-sided -> the subset side), min-label components over the
    admitted pairs, kept = never a loser. Random word lists over a
    tiny vocabulary make containment (incl. mutual/duplicate and
    sub-3-word whole-text shingles) common rather than contrived."""
    from pyspark.sql import functions as F

    from gov_data_pipeline_spark.operators.dedup import containment_pairs_text
    from gov_data_pipeline_spark.operators.graph import containment_dedup

    thr = 0.5
    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    pairs = containment_pairs_text(
        df, "doc_id", F.col("text"), n=3, threshold=thr
    )
    got = {
        r.doc_id: (r.component, r.kept)
        for r in containment_dedup(
            pairs, df.select("doc_id"), "doc_id", threshold=thr
        ).collect()
    }

    def sh(ws):
        if len(ws) >= 3:
            return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        return {" ".join(ws)}

    sets = [sh(ws) for ws in docs]
    admitted, losers = [], set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            c_ab, c_ba = inter / len(sets[a]), inter / len(sets[b])
            if max(c_ab, c_ba) < thr:
                continue
            admitted.append((a, b))
            if c_ab >= thr and c_ba >= thr:
                losers.add(b)  # max id of (a, b) with a < b
            elif c_ab >= thr:
                losers.add(a)
            else:
                losers.add(b)
    uf = _UnionFind()
    for a, b in admitted:
        uf.union(a, b)
    in_pairs = {n for e in admitted for n in e}
    roots: dict[int, int] = {}
    want = {}
    for i in range(len(docs)):
        if i in in_pairs:
            r = uf.find(i)
            roots.setdefault(r, i)  # first visit in ascending order = min
            comp = roots[r]
        else:
            comp = i
        want[i] = (comp, i not in losers)
    assert got == want


@settings(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 400), st.sampled_from("abc")),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(1, 6),
)
def test_stratified_exact_k_matches_md5_rank_model(spark, rows, k):
    """functions/sampling.stratified_exact_k vs the pure-Python model:
    per stratum, sort ids by (md5 hex, id), take exactly min(k, n),
    ranks 1-based — membership a pure function of the ids present."""
    import hashlib

    from gov_data_pipeline_spark.functions.sampling import stratified_exact_k

    df = spark.createDataFrame(rows, "doc_id long, g string")
    got = {
        (r.g, r.doc_id, r.sample_rank)
        for r in stratified_exact_k(df, "doc_id", "g", k).collect()
    }
    want = set()
    for g in {g for _, g in rows}:
        ids = sorted(
            (i for i, gg in rows if gg == g),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )
        want |= {(g, i, r + 1) for r, i in enumerate(ids[:k])}
    assert got == want


def test_stratified_exact_k_rejects_reserved_column(spark):
    import pytest as _pytest

    from gov_data_pipeline_spark.functions.sampling import stratified_exact_k

    df = spark.createDataFrame([(1, "a", 9)], "doc_id long, g string, SAMPLE_RANK long")
    with _pytest.raises(ValueError, match="sample_rank"):
        stratified_exact_k(df, "doc_id", "g", 3)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # cell
            st.lists(
                st.floats(
                    min_value=-4, max_value=4,
                    allow_nan=False, allow_infinity=False,
                    width=32,
                ),
                min_size=6, max_size=6,
            ),
        ),
        min_size=2, max_size=40,
    ),
    threshold=st.sampled_from([0.5, 0.9, 0.99]),
)
def test_cell_gemm_pairs_match_numpy_model(spark, data, threshold):
    """cell_cosine_pairs_gemm must agree with a pure-numpy brute model
    (same HALF_UP rounding) on arbitrary small cell layouts: only
    within-cell pairs, a < b, zero-norm rows never match, threshold on
    the rounded similarity. Random low-dim vectors make near-threshold
    sims common rather than contrived."""
    import numpy as np

    from gov_data_pipeline_spark.operators.similarity import (
        cell_cosine_pairs_gemm,
    )

    rows = [(i, c, v) for i, (c, v) in enumerate(data)]
    df = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<double>"
    )
    got = {
        (r.a_id, r.b_id)
        for r in cell_cosine_pairs_gemm(
            df, "vec_id", "cell", "embedding", threshold
        ).collect()
    }

    want = set()
    by_cell: dict[int, list[tuple[int, list[float]]]] = {}
    for i, (c, v) in enumerate(data):
        by_cell.setdefault(c, []).append((i, v))
    for members in by_cell.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                (ia, va), (ib, vb) = members[x], members[y]
                a, b = np.asarray(va), np.asarray(vb)
                na, nb = np.linalg.norm(a), np.linalg.norm(b)
                if na == 0 or nb == 0:
                    continue
                s = float(a @ b / (na * nb))
                s_r = np.sign(s) * np.floor(abs(s) * 1e4 + 0.5) / 1e4
                if s_r >= threshold:
                    want.add((min(ia, ib), max(ia, ib)))
    assert got == want
