"""Dedup / similarity / text-analysis / search queries (SURVEY L5-L8).

The fixture documents are all-distinct, so near-dup queries synthesize
duplicates deterministically inside the query (a mutated union copy
with offset ids) — both engines build the identical inputs. Exact
methods (hash dedup, n-gram Jaccard, brute-force cosine) carry full
DuckDB oracles directly; sketch methods (MinHash-LSH, SimHash,
hyperplane ANN) run here on md5-derived hash families that DuckDB
reproduces bit-for-bit, so they are oracle-checked too (xxhash64
remains each operator's scale-default family; recall vs the exact
methods is additionally unit-asserted in tests/test_dedup_sim.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gov_data_pipeline_spark.catalog import read_table as _t
from gov_data_pipeline_spark.functions import (
    lang_id_col,
    word_fingerprint_col,
)
from gov_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
)
from gov_data_pipeline_spark.operators.similarity import ann_topk, cosine_topk, ivf_topk
from gov_data_pipeline_spark.util import pin_partitioned

_MUT_OFFSET = 1_000_000


_EMB_DIM_CACHE: dict[str, int | None] = {}


def _emb_dim(spark: SparkSession, sf_dir: str) -> int | None:
    """Embedding width for a fixture dir, memoized per process: the
    first()-row probe is one tiny job, but inside a timed/looped query
    it would otherwise re-run on every invocation."""
    if sf_dir not in _EMB_DIM_CACHE:
        from gov_data_pipeline_spark.operators.similarity import embedding_dim

        _EMB_DIM_CACHE[sf_dir] = embedding_dim(
            _t(spark, sf_dir, "embeddings"), "embedding"
        )
    return _EMB_DIM_CACHE[sf_dir]


def _mutant_embeddings(emb):
    """Planted near-duplicate vectors: every 5th embedding scaled
    x*1.01 + 0.002, id offset — the single definition both q46/q56 and
    q74 (and their oracles via _MUTANTS_SQL) share."""
    return emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + _MUT_OFFSET).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01) + F.lit(0.002)).alias(
            "embedding"
        ),
    )


_MUTANTS_SQL = f"""
  SELECT vec_id + {_MUT_OFFSET} AS vec_id,
         list_transform(embedding, x -> x * 1.01 + 0.002) AS embedding
  FROM embeddings WHERE vec_id % 5 = 0
"""


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-duplicate mutants (every 5th doc, two appended
    tokens, id offset) — the deterministic near-dup corpus."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutants = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + _MUT_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" qq zz")).alias("text"),
        )
    )
    return docs.unionByName(mutants)


_DOCS_DUPS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_MUT_OFFSET} AS doc_id, text || ' qq zz' AS text
  FROM documents WHERE doc_id % 5 = 0
"""

_EXACT_DUP_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_MUT_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 5 = 0
"""


# ---------------------------------------------------------------------------
# L5 — exact dedup (hash-groupBy keep-one) over a corpus with real dups.
# ---------------------------------------------------------------------------


def q40_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _MUT_OFFSET).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dup)
    return exact_dedup(corpus, ["text"], "doc_id").select("doc_id").orderBy("doc_id")


_Q40_SQL = f"""
WITH u AS ({_EXACT_DUP_SQL})
SELECT min(doc_id) AS doc_id FROM u GROUP BY text ORDER BY doc_id
"""


def q159_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized ("fuzzy-exact") dedup — q40 with a canonical key:
    documents group on ``canonical_text_col`` (ASCII-alnum strip →
    lower), so case/punctuation/whitespace variants of the same text
    dedup together — the C4/CCNet cleanup step between byte-exact
    hashing (q40, misses them) and shingle similarity (q41, overkill
    for them). Planted variants: every 5th doc re-published SHOUTING
    with trailing punctuation. Output is the per-document verdict
    (canonical group size + keep = min id in group), one groupBy on a
    40-byte key — the q40/L5 scale shape, no pairs, no text shuffle
    beyond the key.

    The SHOUTING variant is built with an ASCII ``translate`` map, not
    ``upper()``: JVM upper() applies 1:N Unicode case mappings (the ﬁ
    ligature expands to FI) where DuckDB's does not — an engine
    boundary the fixture must not depend on (found by the
    adversarial-Unicode sweep, which this query must pass)."""
    from gov_data_pipeline_spark.transforms import canonical_text_col

    _LO = "abcdefghijklmnopqrstuvwxyz"
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    shouty = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(
            F.translate(F.col("text"), _LO, _LO.upper()), F.lit(" !!")
        ).alias("text"),
    )
    corpus = docs.unionByName(shouty)
    keyed = corpus.select(
        "doc_id", F.md5(canonical_text_col(F.col("text"))).alias("__k")
    )
    from pyspark.sql import Window as W

    wk = W.partitionBy("__k")
    return (
        keyed.withColumn("group_size", F.count(F.lit(1)).over(wk))
        .withColumn("keep", F.col("doc_id") == F.min("doc_id").over(wk))
        .select("doc_id", "group_size", "keep")
        .orderBy("doc_id")
    )


_Q159_SQL = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         translate(text, 'abcdefghijklmnopqrstuvwxyz',
                   'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || ' !!' AS text
  FROM documents WHERE doc_id % 5 = 0),
keyed AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g'))))
           AS k
  FROM u)
SELECT doc_id,
       count(*) OVER (PARTITION BY k) AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY k) AS keep
FROM keyed
ORDER BY doc_id
"""


def q169_unicode_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q159's normalized dedup on a MULTILINGUAL corpus — the
    ``token_classes="unicode"`` canonical key (``\\p{L}\\p{N}`` class
    collapse, ASCII-only case fold). The fixture is ASCII-only, so the
    mixed-script corpus is derived in-query: every 2nd document is
    re-lettered to Cyrillic with a 1:1 codepoint ``translate`` both
    engines implement identically (the q90/q167 synthesize pattern).
    Planted variants: every 5th doc re-published with an ASCII-upper
    translate (a real case variant on the Latin half, a no-op on the
    Cyrillic half) plus trailing punctuation and doubled spaces.

    What this pins (the round-9 verdict's L5 gap): under the ASCII key
    every Cyrillic document canonicalizes to the EMPTY string — the
    whole Cyrillic half would collapse into one giant bogus group. The
    unicode key keeps their letters, so group sizes stay honest: the
    punctuation variant of a Cyrillic doc dedups against its original
    and nothing else. Same L5 scale shape as q159 — one window over a
    16-byte md5 key, no pairs, no text shuffle beyond the key."""
    from gov_data_pipeline_spark.transforms import canonical_text_col

    _LO = "abcdefghijklmnopqrstuvwxyz"
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.translate(
                F.col("text"), _LO, "абвгдежзийклмнопрстуфхцчшщ"
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    variants = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(
            F.translate(F.col("text"), _LO, _LO.upper()), F.lit(" ?!  .")
        ).alias("text"),
    )
    corpus = docs.unionByName(variants)
    keyed = corpus.select(
        "doc_id",
        F.md5(
            canonical_text_col(F.col("text"), token_classes="unicode")
        ).alias("__k"),
    )
    from pyspark.sql import Window as W

    wk = W.partitionBy("__k")
    return (
        keyed.withColumn("group_size", F.count(F.lit(1)).over(wk))
        .withColumn("keep", F.col("doc_id") == F.min("doc_id").over(wk))
        .select("doc_id", "group_size", "keep")
        .orderBy("doc_id")
    )


_Q169_SQL = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN translate(text, 'abcdefghijklmnopqrstuvwxyz',
                             'абвгдежзийклмнопрстуфхцчшщ')
              ELSE text END AS text
  FROM documents),
u AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         translate(text, 'abcdefghijklmnopqrstuvwxyz',
                   'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || ' ?!  .' AS text
  FROM base WHERE doc_id % 5 = 0),
keyed AS (
  SELECT doc_id,
         md5(translate(trim(regexp_replace(text, '[^\\p{L}\\p{N}]+', ' ',
                                           'g')),
                       'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                       'abcdefghijklmnopqrstuvwxyz')) AS k
  FROM u)
SELECT doc_id,
       count(*) OVER (PARTITION BY k) AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY k) AS keep
FROM keyed
ORDER BY doc_id
"""


_HAN = "的一是不了人我在有他这中大来上国个到说们为子和你地出"


def q191_cjk_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q169's normalized dedup on a HAN-script corpus — the
    ``token_classes="cjk"`` canonical key (unicode-class collapse +
    per-character tokenization of Han/kana/Thai). The fixture is
    ASCII-only, so the Han corpus is derived in-query: every 2nd
    document is re-lettered to 26 Han codepoints with a 1:1
    ``translate`` both engines implement identically (the q167/q169
    synthesize pattern) and then DE-SPACED — real Han text carries no
    word separators, which is precisely the regime the unicode-mode
    key mishandles. Planted variants: every 10th doc (all on the
    Han half) re-published with a space injected after every HAN
    character (capture-replace on the script class, no lookaround —
    digits and residual ASCII keep their word boundaries) plus
    trailing CJK punctuation ``。！`` — the CJK analogue of q159's
    SHOUTING+punctuation Latin variants, since separator-free scripts
    vary in incidental intra-sentence spacing, not case.

    What this pins (the r10 verdict's CJK gap): under the "unicode"
    key a Han document is ONE token per sentence, so the spacing
    variant gets a DIFFERENT key (word boundaries differ) and the
    dedup walks past a true duplicate; under the "cjk" key both
    canonicalize to the same per-character form and the variant
    dedups against its original and nothing else. Same L5 scale shape
    as q159/q169 — one window over a 16-byte md5 key, no pairs, no
    text shuffle beyond the key."""
    from gov_data_pipeline_spark.transforms import canonical_text_col

    _LO = "abcdefghijklmnopqrstuvwxyz"
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.regexp_replace(
                F.translate(F.col("text"), _LO, _HAN), r"\s+", ""
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    variants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(
            F.regexp_replace(F.col("text"), r"([\p{IsHan}])", "$1 "),
            F.lit("。！"),
        ).alias("text"),
    )
    corpus = docs.unionByName(variants)
    keyed = corpus.select(
        "doc_id",
        F.md5(
            canonical_text_col(F.col("text"), token_classes="cjk")
        ).alias("__k"),
    )
    from pyspark.sql import Window as W

    wk = W.partitionBy("__k")
    return (
        keyed.withColumn("group_size", F.count(F.lit(1)).over(wk))
        .withColumn("keep", F.col("doc_id") == F.min("doc_id").over(wk))
        .select("doc_id", "group_size", "keep")
        .orderBy("doc_id")
    )


_Q191_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN regexp_replace(
                     translate(text, 'abcdefghijklmnopqrstuvwxyz',
                               '{_HAN}'),
                     '\s+', '', 'g')
              ELSE text END AS text
  FROM documents),
u AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         regexp_replace(text, '([\p{{Han}}])', '\1 ', 'g') || '。！' AS text
  FROM base WHERE doc_id % 10 = 0),
keyed AS (
  SELECT doc_id,
         md5(translate(
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(text, '[^\p{{L}}\p{{N}}]+', ' ', 'g'),
               '([\p{{Han}}\p{{Hiragana}}\p{{Katakana}}\p{{Thai}}])',
               '\1 ', 'g'),
             ' +', ' ', 'g')),
           'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
           'abcdefghijklmnopqrstuvwxyz')) AS k
  FROM u)
SELECT doc_id,
       count(*) OVER (PARTITION BY k) AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY k) AS keep
FROM keyed
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# L6 (exact path) — n-gram Jaccard near-dup pairs via shingle inverted
# index. Full oracle: DuckDB builds identical shingles and joins them.
# ---------------------------------------------------------------------------


def q41_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.operators.dedup import jaccard_pairs_text

    corpus = _docs_with_dups(spark, sf_dir)
    # cache=True: the exploded shingle relation feeds both self-join
    # sides and the size aggregate; caching it is ~2x end-to-end here
    # (measured median 2.9s vs 5.1s at sf0.1).
    return jaccard_pairs_text(
        corpus, "doc_id", F.col("text"), n=3, threshold=0.5, cache=True
    ).orderBy("a_id", "b_id")


_Q41_SQL = rf"""
WITH u AS ({_DOCS_DUPS_SQL}),
words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM u),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM words),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT a_id, b_id,
       round(inter / (sa.n + sb.n - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE inter / (sa.n + sb.n - inter) >= 0.5
ORDER BY a_id, b_id
"""


def q158_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: n-gram CONTAINMENT pairs
    (``operators/dedup.containment_pairs_text``) over documents plus
    planted EXCERPTS — every 7th doc's words[4..17] published as its
    own document. An excerpt's shingles are a strict subset of its
    source's, so containment(excerpt→source) is exactly 1.0 while
    Jaccard is ~|excerpt|/|source| and sails under every symmetric
    threshold — the quote/boilerplate-leak shape document-level
    Jaccard/MinHash structurally miss. Same inverted-index candidate
    machinery as q41; only the scoring tail differs."""
    from gov_data_pipeline_spark.operators.dedup import containment_pairs_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = _words_col()
    excerpts = docs.filter((F.col("doc_id") % 7 == 0) & (F.size(ws) >= 17)).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(ws, 4, 14)).alias("text"),
    )
    corpus = docs.unionByName(excerpts)
    return containment_pairs_text(
        corpus, "doc_id", F.col("text"), n=3, threshold=0.9, cache=True
    ).orderBy("a_id", "b_id")


_Q158_SQL = r"""
WITH w0 AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, array_to_string(ws[4:17], ' ') AS text
  FROM w0 WHERE doc_id % 7 = 0 AND len(ws) >= 17),
words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM u),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM words),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT a_id, b_id,
       round(inter / sa.n, 4) AS containment_ab,
       round(inter / sb.n, 4) AS containment_ba
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE greatest(inter / sa.n, inter / sb.n) >= 0.9
ORDER BY a_id, b_id
"""


def q163_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q158's pairs fed through the keep-the-superset decision
    (``operators/graph.containment_dedup``): the full fixture corpus
    (documents + planted excerpts) labeled with its containment-cluster
    component and a ``kept`` flag — planted excerpts come back
    ``kept=false`` while their sources stay ``kept=true``, so excerpt
    leaks are REMOVED, not just reported. Oracle reproduces the edge
    direction rule and min-label components via a recursive CTE over
    the same pair set."""
    from gov_data_pipeline_spark.operators.dedup import containment_pairs_text
    from gov_data_pipeline_spark.operators.graph import containment_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = _words_col()
    excerpts = docs.filter((F.col("doc_id") % 7 == 0) & (F.size(ws) >= 17)).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(ws, 4, 14)).alias("text"),
    )
    corpus = docs.unionByName(excerpts)
    pairs = containment_pairs_text(
        corpus, "doc_id", F.col("text"), n=3, threshold=0.9, cache=True
    )
    return (
        containment_dedup(pairs, corpus.select("doc_id"), "doc_id", threshold=0.9)
        .select("doc_id", "component", "kept")
        .orderBy("doc_id")
    )


_Q163_SQL = r"""
WITH RECURSIVE w0 AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, array_to_string(ws[4:17], ' ') AS text
  FROM w0 WHERE doc_id % 7 = 0 AND len(ws) >= 17),
words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM u),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM words),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT a_id, b_id,
         round(inter / sa.n, 4) AS c_ab,
         round(inter / sb.n, 4) AS c_ba
  FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE greatest(inter / sa.n, inter / sb.n) >= 0.9),
losers AS (
  SELECT DISTINCT CASE
           WHEN c_ab >= 0.9 AND c_ba >= 0.9 THEN greatest(a_id, b_id)
           WHEN c_ab >= 0.9 THEN a_id
           ELSE b_id END AS id
  FROM pairs),
edges AS (
  SELECT a_id AS eu, b_id AS ev FROM pairs
  UNION
  SELECT b_id AS eu, a_id AS ev FROM pairs),
reach AS (
  SELECT eu, ev FROM edges
  UNION
  SELECT r.eu, e.ev FROM reach r JOIN edges e ON e.eu = r.ev),
comp AS (
  SELECT eu AS id, least(eu, min(ev)) AS component FROM reach GROUP BY eu)
SELECT d.doc_id,
       CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component,
       (l.id IS NULL) AS kept
FROM u d
LEFT JOIN comp c ON c.id = d.doc_id
LEFT JOIN losers l ON l.id = d.doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# L6 (sketch path) — MinHash + banded LSH candidates, exact-Jaccard
# verified. The md5-derived hash family (h1 + i*h2 double hashing) is
# bit-reproducible in DuckDB, so the whole sketch pipeline — signatures,
# banding, candidate join, verify — carries a full value-hash oracle.
# (The xxhash64 family remains the scale default in the operator; recall
# vs the exact pairs is additionally asserted in tests/test_dedup_sim.py.)
# ---------------------------------------------------------------------------


# Persisted intermediates from the previous invocation, one live entry
# per query key (q42's minhash profile, q187's profile, q181's cell
# assignment). A long-lived session invoking these queries repeatedly
# (the driver does) must not accumulate storage blocks per call — the
# localCheckpoint form relied on Python GC + ContextCleaner to free
# executor-storage blocks (ADVICE r10), which can transiently
# accumulate; persist + explicit unpersist-on-next-invocation bounds
# live entries to 1 per key deterministically.
# SINGLE-THREADED-DRIVER ASSUMPTION (ADVICE r06): unsynchronized by
# design — the driver, bench.py, and the test suite invoke queries
# sequentially. Two CONCURRENT invocations of the same query stay
# correct (unpersist only drops cached blocks; the plan recomputes)
# but could evict each other's pin and lose the caching win.
_LIVE_PINS: dict[str, DataFrame] = {}


def _pin_one_live(key: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK — spills rather than OOMs when
    the pinned relation outgrows executor storage) and evict the
    PREVIOUS invocation's pin for ``key``. Lazy: no eager
    materialization; the first consumer populates the cache, later
    consumers hit it.

    Lazy-vs-eager was A/B'd for q181 the same way the streaming sinks
    were (r12, interleaved best-of-3 at sf0.1): lazy 5.44/4.51/4.23 s
    vs eager(+count) 4.78/4.25/4.24 s — indistinguishable. Unlike the
    sinks' _pin_batch (where sibling stages of ONE job race the cache
    and lazy loses read-once), the pinned relations here are tiny
    reductions (per-doc profiles, cell assignments) whose recompute
    cost is dwarfed by the query's own scans, and rdd.persist caching
    is per-PARTITION at task level — concurrent consumers mostly hit
    blocks the first finished tasks stored. So lazy keeps the ~0 extra
    jobs without measurable recompute loss; eager would just add a
    materialization job of the same total cost."""
    from pyspark import StorageLevel

    pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    prev = _LIVE_PINS.pop(key, None)
    if prev is not None:
        prev.unpersist()
    _LIVE_PINS[key] = pinned
    return pinned


def q42_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.operators.dedup import (
        minhash_doc_profile,
        shingle_rows,
        verify_candidates_hashset,
    )

    corpus = _docs_with_dups(spark, sf_dir)
    # widen=False: the one shingle pass feeds a single profile
    # aggregate; a pinned-width repartition before it breaks AQE's
    # byte-based planning for no benefit (measured slower).
    ex = shingle_rows(corpus, "doc_id", F.col("text"), 3, widen=False, distinct=False)
    # ONE aggregate yields signature + shingle-hash set + size, so the
    # shingle relation is scanned once and verify never re-joins it
    # (measured ~30% faster than the sig-then-reindex form at sf0.1;
    # see minhash_doc_profile for the scale argument).
    # The profile fans out to THREE consumers (band a-side, band b-side,
    # verify's two profile lookups); per-consumer column pruning makes
    # their subtrees structurally different, so Catalyst's exchange
    # reuse cannot dedupe them and the scan+md5+aggregate pipeline runs
    # once per consumer (24 parquet scans observed). Persisting the
    # profile — one compact row per doc: 32-long signature + hash set —
    # computes it once, with the one-live-entry eviction so repeated
    # invocations never accumulate cache entries (see _pin_one_live).
    prof = _pin_one_live(
        "q42_profile",
        minhash_doc_profile(ex, "doc_id", num_hashes=32, hash_family="md5"),
    )
    cands = lsh_candidate_pairs(prof, "doc_id", "sig", bands=8, rows_per_band=4, sig_len=32)
    verified = verify_candidates_hashset(cands, prof, "doc_id", threshold=0.5)
    return verified.orderBy("a_id", "b_id")


# The oracle joins band slices on their string_agg'd values; Spark
# joins on xxhash64 of the slice ARRAY — either way bucket equality is
# slice-value equality barring a 2^-64 hash collision. Everything else
# (md5 double-hash family, min aggregation, band slicing, exact-Jaccard
# verify) is replicated value-for-value.
_Q42_SQL = rf"""
WITH u AS ({_DOCS_DUPS_SQL}),
words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM u),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM words),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hs AS (
  SELECT doc_id,
         s,
         ('0x' || substr(md5(s), 1, 13))::BIGINT  AS h1,
         ('0x' || substr(md5(s), 14, 13))::BIGINT AS h2
  FROM ex),
sig AS (
  SELECT doc_id, i, min(h1 + i * h2) AS m
  FROM hs CROSS JOIN range(32) t(i)
  GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, (i // 4)::INT AS band,
         string_agg(m::VARCHAR, ',' ORDER BY i) AS bucket
  FROM sig GROUP BY doc_id, (i // 4)::INT),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT c.a_id, c.b_id, count(*) AS inter
  FROM cand c
  JOIN ex a ON a.doc_id = c.a_id
  JOIN ex b ON b.doc_id = c.b_id AND b.s = a.s
  GROUP BY 1, 2)
SELECT i.a_id, i.b_id,
       round(i.inter / (sa.n + sb.n - i.inter), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a_id
JOIN sizes sb ON sb.doc_id = i.b_id
WHERE i.inter / (sa.n + sb.n - i.inter) >= 0.5
ORDER BY a_id, b_id
"""


# ---------------------------------------------------------------------------
# L6 (SimHash) — 56-bit md5-family fingerprints; near-dup pairs by
# 8-bit-chunk blocking + hamming<=6 verify. With 7 chunks, any pair at
# hamming<=6 shares at least one identical chunk (pigeonhole), so
# blocking has perfect recall for the verified threshold. The md5
# token-hash makes every fingerprint bit reproducible in DuckDB — full
# value-hash oracle. (``simhash_df``'s default xxhash64 family gives
# 64-bit fingerprints but has no DuckDB mirror.)
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 56
_SIMHASH_CHUNKS = _SIMHASH_BITS // 8
_SIMHASH_MAX_HAMMING = _SIMHASH_CHUNKS - 1


def q43_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.operators.dedup import hamming64, simhash_df

    corpus = simhash_df(
        _docs_with_dups(spark, sf_dir),
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        bits=_SIMHASH_BITS,
        hash_family="md5",
    )
    chunks = corpus.select(
        "doc_id",
        "simhash",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_SIMHASH_CHUNKS - 1)),
                lambda c: F.struct(
                    c.alias("chunk"),
                    F.call_function("shiftright", F.col("simhash"), c * 8)
                    .bitwiseAND(F.lit(0xFF))
                    .alias("val"),
                ),
            )
        ).alias("cc"),
    ).select("doc_id", "simhash", "cc.chunk", "cc.val")
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
    )
    return pairs.orderBy("a_id", "b_id")


_Q43_SQL = rf"""
WITH u AS ({_DOCS_DUPS_SQL}),
tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
  FROM u),
th AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 14))::BIGINT AS h FROM tok),
votes AS (
  SELECT doc_id, b.b AS b,
         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN range({_SIMHASH_BITS}) b(b)
  GROUP BY doc_id, b.b),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
           AS simhash
  FROM votes GROUP BY doc_id),
chunks AS (
  SELECT doc_id, simhash, c.c AS chunk, (simhash >> (8 * c.c)) & 255 AS val
  FROM fp CROSS JOIN range({_SIMHASH_CHUNKS}) c(c)),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM chunks a
  JOIN chunks b ON a.chunk = b.chunk AND a.val = b.val
              AND a.doc_id < b.doc_id)
SELECT a_id, b_id, hamming FROM pairs
WHERE hamming <= {_SIMHASH_MAX_HAMMING}
ORDER BY a_id, b_id
"""


# ---------------------------------------------------------------------------
# L7 — exact brute-force cosine top-k (oracle: DuckDB
# list_cosine_similarity) and hyperplane-LSH ANN (rows-only).
# ---------------------------------------------------------------------------


def q44_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding", k=5
    ).orderBy("vec_id", "rk")


_Q44_SQL = """
WITH scored AS (
  SELECT q.vec_id,
         c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 4) AS cosine_sim
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cosine_sim DESC, neighbor_id) AS rk
  FROM scored)
SELECT vec_id, neighbor_id, cosine_sim, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 5
ORDER BY vec_id, rk
"""


def q45_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN with the md5 plane family (6 tables x 6 bits):
    every plane sign, bucket id, candidate set, and rerank score is
    reproduced by the DuckDB oracle below — full value-hash check.
    ``probe_flips=0`` pins the PLAIN single-bucket tier: this query is
    the baseline q190 measures the multi-probe default against (the
    operator's default is now probe_flips=bits)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ann_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding",
        k=5, bits=6, tables=6, hash_family="md5", probe_flips=0
    ).orderBy("vec_id", "rk")


# Plane component for (dim d, plane p) = ±1 from the low bit of the
# first hex char of md5('d,p') — identical arithmetic to ann_topk's
# broadcast sign table. Buckets: plane p belongs to table p // 6, bit
# p % 6. Dot sums differ from Spark only by float ulps; a bucket-bit
# flip would need |dot| < ~1e-12, absent from the fixture data.
_Q45_SQL = """
WITH ex AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
dims AS (SELECT DISTINCT d FROM ex),
planes AS (
  SELECT dims.d, p.p AS p,
         CASE WHEN ('0x' || substr(md5(dims.d::VARCHAR || ',' || p.p::VARCHAR),
                                   1, 1))::INT & 1 = 1
              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sign
  FROM dims CROSS JOIN range(36) p(p)),
dots AS (
  SELECT e.vec_id, pl.p,
         sum(CAST(floor(e.x * 1000000 + 0.5) AS BIGINT) * pl.sign) AS dot
  FROM ex e JOIN planes pl ON pl.d = e.d
  GROUP BY e.vec_id, pl.p),
buckets AS (
  SELECT vec_id, (p // 6)::INT AS t,
         sum(CASE WHEN dot > 0 THEN (1::BIGINT << (p % 6)) ELSE 0 END)::BIGINT AS b
  FROM dots GROUP BY vec_id, (p // 6)::INT),
cand AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
  FROM buckets q
  JOIN buckets c ON q.t = c.t AND q.b = c.b
  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
scored AS (
  SELECT cand.qid AS vec_id, cand.nid AS neighbor_id,
         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ce.embedding AS DOUBLE[])), 4)
           AS cosine_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.qid
  JOIN embeddings ce ON ce.vec_id = cand.nid),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cosine_sim DESC, neighbor_id) AS rk
  FROM scored)
SELECT vec_id, neighbor_id, cosine_sim, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 5
ORDER BY vec_id, rk
"""


def q46_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive cosine near-dup scan — the DELIBERATE brute-force
    baseline the north-star asks for (and the recall yardstick the
    sketch tiers are graded against): q56 is the same task on the
    GEMM tier, q80 on the hyperplane-LSH tier with a plan pinned free
    of cross joins — those are the registered 100 TB paths; this one
    exists to define ground truth, not to scale.

    Threshold filter runs on the 4-decimal-ROUNDED similarity in
    BOTH engines (the oracle's WHERE mirrors it): comparing raw floats
    against 0.99 would let a pair in [0.98995, 0.99) pass one engine's
    filter and fail the other's.

    Norms are precomputed per side (``_pair_cosine``): the fully
    unrolled per-pair cosine (dot + 2 norms, ~3·dim chained ops)
    overflowed the JVM's 64 KB method limit inside the join stage and
    silently dropped the whole pair stage to interpreted evaluation —
    the same janino fallback q80's fix removed from the LSH tier.
    Bit-identical results (same IEEE expression, evaluated per vector
    instead of per pair)."""
    from gov_data_pipeline_spark.operators.similarity import _norm, _pair_cosine

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mutants = _mutant_embeddings(emb)
    dim = _emb_dim(spark, sf_dir)
    m = mutants.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("__va"),
        _norm(F.col("embedding"), dim).alias("__na"),
    )
    o = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("__vb"),
        _norm(F.col("embedding"), dim).alias("__nb"),
    )
    return (
        m.crossJoin(o)
        .select(
            "a_id",
            "b_id",
            F.round(
                _pair_cosine(
                    F.col("__va"), F.col("__vb"),
                    F.col("__na"), F.col("__nb"), dim,
                ),
                4,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.99)
        .orderBy("a_id", "b_id")
    )


_Q46_SQL = f"""
WITH mutants AS ({_MUTANTS_SQL})
SELECT m.vec_id AS a_id, o.vec_id AS b_id,
       round(list_cosine_similarity(CAST(m.embedding AS DOUBLE[]),
                                    CAST(o.embedding AS DOUBLE[])), 4) AS cosine_sim
FROM mutants m CROSS JOIN embeddings o
WHERE round(list_cosine_similarity(CAST(m.embedding AS DOUBLE[]),
                                   CAST(o.embedding AS DOUBLE[])), 4) >= 0.99
ORDER BY a_id, b_id
"""


# ---------------------------------------------------------------------------
# L8 — text statistics / quality / language-ID / fingerprint.
# ---------------------------------------------------------------------------


def q56_cosine_neardup_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEMM-backed variant of q46 (same planted mutants, same
    threshold): broadcast query matrix, numpy matrix product per Arrow
    batch. rows-only driver check; equality with the exact native
    version is asserted in tests/test_dedup_sim.py."""
    from gov_data_pipeline_spark.operators.similarity import cosine_pairs_gemm

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mutants = _mutant_embeddings(emb)
    return cosine_pairs_gemm(
        mutants, emb, "vec_id", "vec_id", "embedding", "embedding", threshold=0.99
    ).orderBy("a_id", "b_id")


def q47_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics, fused: each regex scans the text
    exactly ONCE, materialized as an intermediate counter column, and
    the ratios/quality score are arithmetic over those counters.  The
    compositional form (``punct_ratio_col`` + ``quality_score_col``)
    re-evaluates the punct regex and the interpreted stopword HOF
    inside the quality expression — measured +15% on q47 at sf0.1.
    Stopwords are counted with one codegen'd lookaround regex over the
    lowered text (token-boundary-anchored, so it matches exactly the
    whitespace-split tokens) instead of split + higher-order filter —
    HOFs are interpreted, not codegen'd.  Results are bit-identical to
    the compositional form (pinned in tests)."""
    from gov_data_pipeline_spark.functions.textstats import (
        PUNCT_PATTERN,
        STOPWORDS,
        TOKEN_PATTERN,
    )

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    stop_re = (
        r"(?<=\s|^)("
        + "|".join(sorted(STOPWORDS, key=len, reverse=True))
        + r")(?=\s|$)"
    )
    base = docs.select(
        "doc_id",
        F.length(t).cast("bigint").alias("n_chars"),
        F.size(F.split(F.trim(t), r"\s+")).cast("bigint").alias("n_words"),
        F.regexp_count(t, F.lit(TOKEN_PATTERN)).cast("bigint").alias("n_tokens"),
        F.regexp_count(t, F.lit(PUNCT_PATTERN)).cast("double").alias("__n_punct"),
        F.regexp_count(F.lower(F.trim(t)), F.lit(stop_re))
        .cast("double")
        .alias("__n_stop"),
    )
    praw = F.col("__n_punct") / F.greatest(
        F.col("n_chars").cast("double"), F.lit(1.0)
    )
    sraw = F.col("__n_stop") / F.greatest(
        F.col("n_words").cast("double"), F.lit(1.0)
    )
    return base.select(
        "doc_id",
        "n_chars",
        "n_words",
        "n_tokens",
        F.round(praw, 4).alias("punct_ratio"),
        F.round(sraw, 4).alias("stopword_ratio"),
        F.round(
            0.4 * F.least(F.col("n_chars").cast("double") / 500.0, F.lit(1.0))
            + 0.3 * (F.lit(1.0) - F.least(praw * 5.0, F.lit(1.0)))
            + 0.3 * F.least(sraw * 4.0, F.lit(1.0)),
            4,
        ).alias("quality"),
    ).orderBy("doc_id")


_Q47_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\s+') AS words,
         CAST(length(text) AS DOUBLE) AS len_d
  FROM documents),
stats AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '[\p{L}\p{N}_]+|[^\p{L}\p{N}_\s]')) AS BIGINT) AS n_tokens,
         len(regexp_extract_all(text, '[^\p{L}\p{N}_\s]')) / greatest(len_d, 1.0) AS praw,
         len(list_filter(words, w -> w IN ('the','a','an','of','and','to','in','is')))
           / greatest(CAST(len(words) AS DOUBLE), 1.0) AS sraw,
         len_d
  FROM base)
SELECT doc_id, n_chars, n_words, n_tokens,
       round(praw, 4) AS punct_ratio,
       round(sraw, 4) AS stopword_ratio,
       round(0.4 * least(len_d / 500.0, 1.0)
           + 0.3 * (1.0 - least(praw * 5.0, 1.0))
           + 0.3 * least(sraw * 4.0, 1.0), 4) AS quality
FROM stats
ORDER BY doc_id
"""


def q170_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode-SCRIPT composition — the wordlist-free
    lang-ID signal a multilingual corpus router runs before q48's
    marker voting (which only knows languages it has wordlists for):
    counts of Latin/Cyrillic/Han/digit characters, the dominant letter
    script (deterministic tie order latin > cyrillic > han), and a
    ``mixed`` flag for documents carrying 2+ letter scripts — the
    router's cue for segment-level handling. The fixture is ASCII, so
    the mixed-script corpus is derived in-query exactly like q167/q169
    (Cyrillic translate on the even half) plus a CJK+digits suffix on
    every 7th doc — which makes even-AND-%7 docs genuinely mixed.

    Engine note: Java regex spells script classes ``\\p{IsCyrillic}``,
    RE2 spells them ``\\p{Cyrillic}`` — the oracle uses the RE2 names
    for the SAME properties (verified equal counts on mixed fixtures).
    One projection over one scan; the only exchange is the output sort.
    """
    from gov_data_pipeline_spark.functions.textstats import (
        dominant_script_col,
        script_counts_chained,
    )

    _LO = "abcdefghijklmnopqrstuvwxyz"
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 2 == 0,
                F.translate(F.col("text"), _LO, "абвгдежзийклмнопрстуфхцчшщ"),
            ).otherwise(F.col("text")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(" 你好 世界 数据 42")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    t = F.col("text")
    # chained-strip counts (r14): identical values to the four
    # independent regexp_counts — one full-text pass keeps the four
    # classes, three short passes peel them off; see
    # script_counts_chained for the disjointness argument
    lat, cyr, han, dig = script_counts_chained(t, with_digit=True)
    return docs.select(
        "doc_id",
        lat.alias("n_latin"),
        cyr.alias("n_cyrillic"),
        han.alias("n_han"),
        dig.alias("n_digit"),
        dominant_script_col(lat, cyr, han).alias("dominant"),
        (
            (lat > 0).cast("int") + (cyr > 0).cast("int")
            + (han > 0).cast("int")
            >= 2
        ).alias("mixed"),
    ).orderBy("doc_id")


_Q170_SQL = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN translate(text, 'abcdefghijklmnopqrstuvwxyz',
                             'абвгдежзийклмнопрстуфхцчшщ')
              ELSE text END
         || CASE WHEN doc_id % 7 = 0 THEN ' 你好 世界 数据 42'
                 ELSE '' END AS text
  FROM documents),
counts AS (
  SELECT doc_id,
         CAST(coalesce(len(regexp_extract_all(text, '[A-Za-z]')), 0)
              AS BIGINT) AS n_latin,
         CAST(coalesce(len(regexp_extract_all(text, '\\p{Cyrillic}')), 0)
              AS BIGINT) AS n_cyrillic,
         CAST(coalesce(len(regexp_extract_all(text, '\\p{Han}')), 0)
              AS BIGINT) AS n_han,
         CAST(coalesce(len(regexp_extract_all(text, '\\p{Nd}')), 0)
              AS BIGINT) AS n_digit
  FROM base)
SELECT doc_id, n_latin, n_cyrillic, n_han, n_digit,
       CASE WHEN n_latin = 0 AND n_cyrillic = 0 AND n_han = 0 THEN 'none'
            WHEN n_latin >= n_cyrillic AND n_latin >= n_han THEN 'latin'
            WHEN n_cyrillic >= n_han THEN 'cyrillic'
            ELSE 'han' END AS dominant,
       (CASE WHEN n_latin > 0 THEN 1 ELSE 0 END
        + CASE WHEN n_cyrillic > 0 THEN 1 ELSE 0 END
        + CASE WHEN n_han > 0 THEN 1 ELSE 0 END) >= 2 AS mixed
FROM counts
ORDER BY doc_id
"""


def q48_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        lang_id_col(F.col("text")).alias("lang_guess"),
    ).withColumn(
        "agrees", (F.col("lang") == F.col("lang_guess")).cast("int")
    ).orderBy("doc_id")


_Q48_SQL = r"""
WITH w AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS words
  FROM documents),
hits AS (
  SELECT doc_id, lang,
         len(list_filter(words, x -> x IN ('the','and','of','to','is')))   AS n_en,
         len(list_filter(words, x -> x IN ('der','die','und','nicht','ist'))) AS n_de,
         len(list_filter(words, x -> x IN ('le','la','et','les','est')))   AS n_fr,
         len(list_filter(words, x -> x IN ('el','la','los','es','de')))    AS n_es
  FROM w),
best AS (
  SELECT doc_id, lang, greatest(n_en, n_de, n_fr, n_es) AS g,
         n_en, n_de, n_fr, n_es
  FROM hits)
SELECT doc_id, lang,
       CASE WHEN g = 0 THEN 'und'
            WHEN n_fr = g THEN 'fr'
            WHEN n_es = g THEN 'es'
            WHEN n_en = g THEN 'en'
            ELSE 'de' END AS lang_guess,
       CAST(lang = (CASE WHEN g = 0 THEN 'und'
                         WHEN n_fr = g THEN 'fr'
                         WHEN n_es = g THEN 'es'
                         WHEN n_en = g THEN 'en'
                         ELSE 'de' END) AS INT) AS agrees
FROM best
ORDER BY doc_id
"""


def q49_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        word_fingerprint_col(F.col("text")).alias("fingerprint"),
        F.md5(F.col("text")).alias("raw_md5"),
    ).orderBy("doc_id")


_Q49_SQL = r"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(
             string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fingerprint,
       md5(text) AS raw_md5
FROM documents
ORDER BY doc_id
"""


def q59_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 incremental form: dedup a new batch (odd doc_ids plus planted
    copies of already-seen texts) against the ingested corpus (even
    doc_ids) — only never-seen content survives, one winner per text."""
    from gov_data_pipeline_spark.operators.dedup import incremental_exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    replayed = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _MUT_OFFSET).alias("doc_id"), "text"
    )
    new = docs.filter(F.col("doc_id") % 2 == 1).unionByName(replayed)
    return (
        incremental_exact_dedup(new, seen, ["text"], "doc_id")
        .select("doc_id")
        .orderBy("doc_id")
    )


_Q59_SQL = f"""
WITH seen AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
new AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + {_MUT_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 10 = 0),
fresh AS (
  SELECT * FROM new WHERE text NOT IN (SELECT text FROM seen))
SELECT min(doc_id) AS doc_id FROM fresh GROUP BY text ORDER BY doc_id
"""


def q57_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling-hash document fingerprinting,
    L8): one row per (doc, fingerprint); shared fingerprints between
    docs witness shared substrings of length >= w + k - 1 = 23."""
    from gov_data_pipeline_spark.operators.dedup import winnowing_fingerprints_df

    docs = _t(spark, sf_dir, "documents")
    return winnowing_fingerprints_df(docs, "doc_id", F.col("text"), k=8, w=16).orderBy(
        "doc_id", "fp"
    )


_Q57_SQL = """
WITH g AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents),
grams AS (
  SELECT doc_id,
         CASE WHEN length(t) >= 8 THEN
           list_transform(range(1, length(t) - 6),
             i -> CAST(('0x' || substr(md5(substr(t, i, 8)), 1, 8)) AS BIGINT))
         ELSE [CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)] END AS hs
  FROM g),
wins AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 16 THEN
           list_distinct(list_transform(range(1, len(hs) - 14),
                                        j -> list_min(hs[j:j+15])))
         ELSE [list_min(hs)] END AS fps
  FROM grams)
SELECT doc_id, unnest(fps) AS fp FROM wins ORDER BY doc_id, fp
"""


_Q58_MAX_DF = 64


def q58_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap pair detection via winnowing fingerprints: pairs
    of documents sharing >= 3 fingerprints, i.e. overlapping substrings
    (quotes / boilerplate / containment) — the case Jaccard-style
    whole-document dedup misses, because a short quote barely moves the
    whole-document similarity. Inverted-index join on fp: only
    co-fingerprinted pairs materialize, never the pair space.

    Fingerprints in more than ``_Q58_MAX_DF`` documents are dropped
    before the join (same stop-key lever as ``cap_shingle_doc_freq``):
    a fingerprint shared by f docs fans out f²/2 pairs while carrying
    no overlap signal — on this corpus the hottest fingerprint spans
    1400+ docs and uncapped the join materializes ~27M pair rows
    (28 s); capped it is ~1 s with identical semantics for
    discriminative overlaps. The oracle applies the same cap."""
    from gov_data_pipeline_spark.operators.dedup import (
        cap_shingle_doc_freq,
        winnowing_fingerprints_df,
    )

    corpus = _docs_with_dups(spark, sf_dir)
    fps = winnowing_fingerprints_df(corpus, "doc_id", F.col("text"), k=8, w=16)
    fps = cap_shingle_doc_freq(fps, "doc_id", "fp", _Q58_MAX_DF)
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .orderBy("a_id", "b_id")
    )


_Q58_SQL = f"""
WITH u AS ({_DOCS_DUPS_SQL}),
g AS (
  SELECT doc_id, lower(trim(text)) AS t FROM u),
grams AS (
  SELECT doc_id,
         CASE WHEN length(t) >= 8 THEN
           list_transform(range(1, length(t) - 6),
             i -> CAST(('0x' || substr(md5(substr(t, i, 8)), 1, 8)) AS BIGINT))
         ELSE [CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)] END AS hs
  FROM g),
wins AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 16 THEN
           list_distinct(list_transform(range(1, len(hs) - 14),
                                        j -> list_min(hs[j:j+15])))
         ELSE [list_min(hs)] END AS fps
  FROM grams),
fp0 AS (SELECT doc_id, unnest(fps) AS fp FROM wins),
hot AS (
  SELECT fp FROM fp0 GROUP BY fp HAVING count(*) > {_Q58_MAX_DF}),
fp AS (SELECT doc_id, fp FROM fp0 WHERE fp NOT IN (SELECT fp FROM hot))
SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3
ORDER BY a_id, b_id
"""


def q55_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: deterministic centroids (16 lowest-id
    vectors), n_probe=3 cells searched per query. Hash-free and fully
    deterministic, so the Voronoi assignment + probe + rerank pipeline
    carries a complete DuckDB oracle; recall vs the exact top-k is
    additionally asserted in tests/test_dedup_sim.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding",
        k=5, n_centroids=16, n_probe=3
    ).orderBy("vec_id", "rk")


# Distances use the same ||c||^2 - 2<v,c> form as ivf_topk; the rerank
# rounds to 4 decimals like q44. Float sums differ from Spark's partial
# aggregation only by ulps — the cell ranking would need two centroid
# distances within ~1e-9 to diverge, which the fixture data doesn't have.
_Q55_SQL = """
WITH cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings ORDER BY vec_id LIMIT 16),
q_assign AS (
  SELECT e.vec_id AS qid, c.cid,
         list_inner_product(c.cv, c.cv)
           - 2 * list_inner_product(CAST(e.embedding AS DOUBLE[]), c.cv) AS dist
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id < 20),
q_cells AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cid ASC) AS rn
    FROM q_assign)
  WHERE rn <= 3),
c_assign AS (
  SELECT e.vec_id AS nid, c.cid,
         list_inner_product(c.cv, c.cv)
           - 2 * list_inner_product(CAST(e.embedding AS DOUBLE[]), c.cv) AS dist
  FROM embeddings e CROSS JOIN cents c),
c_cells AS (
  SELECT nid, cid FROM (
    SELECT nid, cid,
           row_number() OVER (PARTITION BY nid ORDER BY dist ASC, cid ASC) AS rn
    FROM c_assign)
  WHERE rn = 1),
cand AS (
  SELECT DISTINCT q.qid, c.nid
  FROM q_cells q JOIN c_cells c ON q.cid = c.cid
  WHERE q.qid <> c.nid),
scored AS (
  SELECT cand.qid AS vec_id, cand.nid AS neighbor_id,
         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ce.embedding AS DOUBLE[])), 4)
           AS cosine_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.qid
  JOIN embeddings ce ON ce.vec_id = cand.nid),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cosine_sim DESC, neighbor_id) AS rk
  FROM scored)
SELECT vec_id, neighbor_id, cosine_sim, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 5
ORDER BY vec_id, rk
"""


# ---------------------------------------------------------------------------
# L5/L6 downstream — duplicate-cluster labeling: near-dup pairs ->
# connected components (large-star/small-star) -> per-doc cluster id +
# canonical flag. Oracle: DuckDB recursive CTE (min reachable id).
# ---------------------------------------------------------------------------


def q67_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.operators.dedup import jaccard_pairs_text
    from gov_data_pipeline_spark.operators.graph import dedup_clusters

    corpus = _docs_with_dups(spark, sf_dir)
    pairs = jaccard_pairs_text(corpus, "doc_id", F.col("text"), n=3, threshold=0.5)
    return (
        dedup_clusters(pairs, corpus.select("doc_id"), "doc_id")
        .select("doc_id", "component", "is_canonical")
        .orderBy("doc_id")
    )


_Q67_SQL = rf"""
WITH RECURSIVE
u AS ({_DOCS_DUPS_SQL}),
words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM u),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM words),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT a_id, b_id
  FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE inter / (sa.n + sb.n - inter) >= 0.5),
edges AS (
  SELECT a_id AS eu, b_id AS ev FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs),
walk(node, comp) AS (
  SELECT DISTINCT eu, eu FROM edges
  UNION
  SELECT e.eu, w.comp FROM edges e JOIN walk w ON w.node = e.ev),
labels AS (SELECT node, min(comp) AS component FROM walk GROUP BY node)
SELECT u.doc_id,
       coalesce(l.component, u.doc_id) AS component,
       coalesce(l.component, u.doc_id) = u.doc_id AS is_canonical
FROM u LEFT JOIN labels l ON l.node = u.doc_id
ORDER BY u.doc_id
"""


def q145_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/validation split: assign each document to a
    split by hashing its near-dup CLUSTER representative, so two
    near-duplicate documents can never land on opposite sides of the
    split — the eval-contamination failure mode of naive per-document
    hashing (your validation loss silently measures memorization).
    ~80% train (bucket < 204 of 256), deterministic on any engine and
    any cluster because membership is a pure md5 function of the
    component id.

    Composition of three registered operators: ``jaccard_pairs_text``
    (q41's inverted-index pair generator), ``dedup_clusters`` (q67's
    large-star/small-star connected components), ``hash_bucket_col``
    (q69's reproducible sampler). Scale shape inherited from those:
    the only new work after clustering is one hash projection — no
    additional shuffle beyond q67's.
    """
    from gov_data_pipeline_spark.functions.sampling import hash_bucket_col
    from gov_data_pipeline_spark.operators.dedup import jaccard_pairs_text
    from gov_data_pipeline_spark.operators.graph import dedup_clusters

    corpus = _docs_with_dups(spark, sf_dir)
    pairs = jaccard_pairs_text(
        corpus, "doc_id", F.col("text"), n=3, threshold=0.5
    )
    cl = dedup_clusters(pairs, corpus.select("doc_id"), "doc_id")
    bucket = hash_bucket_col(F.col("component"))
    return (
        cl.select(
            "doc_id",
            "component",
            F.when(bucket < 204, F.lit("train"))
            .otherwise(F.lit("val"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


_Q145_SQL = rf"""
WITH RECURSIVE
u AS ({_DOCS_DUPS_SQL}),
words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM u),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM words),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT a_id, b_id
  FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE inter / (sa.n + sb.n - inter) >= 0.5),
edges AS (
  SELECT a_id AS eu, b_id AS ev FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs),
walk(node, comp) AS (
  SELECT DISTINCT eu, eu FROM edges
  UNION
  SELECT e.eu, w.comp FROM edges e JOIN walk w ON w.node = e.ev),
labels AS (SELECT node, min(comp) AS component FROM walk GROUP BY node),
assigned AS (
  SELECT u.doc_id, coalesce(l.component, u.doc_id) AS component
  FROM u LEFT JOIN labels l ON l.node = u.doc_id)
SELECT doc_id, component,
       CASE WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 2))::INT
                 < 204
            THEN 'train' ELSE 'val' END AS split
FROM assigned
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# L8 extension — keyword relevance (BM25), stratified sampling, and
# frequent-terms (exact-mode sketch). All full-oracle.
# ---------------------------------------------------------------------------

_BM25_TERMS = ["vector", "stream", "dup"]


def q68_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.operators.search import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    scores = bm25_scores(docs, "doc_id", F.col("text"), _BM25_TERMS)
    from pyspark.sql.window import Window as W

    w = W.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    return (
        scores.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 25)
        .orderBy("rk")
    )


_Q68_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
  GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS part
  FROM tf
  JOIN dfreq ON dfreq.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s),
agg AS (
  SELECT doc_id, round(sum(part), 4) AS bm25 FROM scored GROUP BY doc_id),
ranked AS (
  SELECT doc_id, bm25,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rk
  FROM agg)
SELECT doc_id, bm25, rk FROM ranked WHERE rk <= 25 ORDER BY rk
"""


def q69_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic hash sampling: different keep-rates per
    language (the corpus-rebalancing primitive — downsample dominant
    languages, keep the tail). Membership is a pure function of the id
    (md5), so the sample is reproducible on any engine, any cluster."""
    from gov_data_pipeline_spark.functions.sampling import hash_bucket_col

    docs = _t(spark, sf_dir, "documents")
    bucket = hash_bucket_col(F.col("doc_id"))
    # keep-rate by stratum: en 25%, zh 50%, everything else 100%
    cut = (
        F.when(F.col("lang") == "en", F.lit(64))
        .when(F.col("lang") == "zh", F.lit(128))
        .otherwise(F.lit(256))
    )
    return (
        docs.withColumn("hash_bucket", bucket)
        .filter(F.col("hash_bucket") < cut)
        .select("doc_id", "lang", "hash_bucket")
        .orderBy("doc_id")
    )


_Q69_SQL = """
WITH hashed AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT AS hash_bucket
  FROM documents)
SELECT doc_id, lang, hash_bucket
FROM hashed
WHERE hash_bucket < CASE WHEN lang = 'en' THEN 64
                         WHEN lang = 'zh' THEN 128
                         ELSE 256 END
ORDER BY doc_id
"""


def q70_frequent_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent terms via the native approx_top_k sketch, run in its
    exact regime (maxItemsTracked >> vocabulary) and reduced to the
    deterministic set {term: count >= 100} — the sketch mirrors what a
    100 TB vocabulary scan would use, the threshold filter makes the
    result order-independent and oracle-checkable.

    Contract: k must dominate the number of qualifying terms, else the
    sketch truncates the set the threshold filter expects to see in
    full — hence k = maxItemsTracked (10k, >> the fixture vocabulary
    and >> any plausible count>=100 term set here)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
    )
    sketch = toks.select(F.expr("approx_top_k(term, 10001, 10001)").alias("tk"))
    topk = sketch.select(F.size("tk").alias("__n"), F.explode("tk").alias("e"))
    # Exact-regime guard, load-bearing in the output column (a separate
    # assert column gets pruned by the optimizer): if the sketch
    # returned all 10001 tracked items the vocabulary may exceed the
    # tracking capacity and counts are no longer exact — fail loudly
    # instead of flaking the oracle. (k == tracked+0 would also trip on
    # a vocabulary of EXACTLY k, where counts are still exact — hence
    # the +1 headroom.)
    cnt = F.when(F.col("__n") < 10001, F.col("e.count")).otherwise(
        F.raise_error(
            F.lit("q70: approx_top_k truncated - vocabulary > tracked")
        ).cast("long")
    )
    return (
        topk.select(F.col("e.item").alias("term"), cnt.alias("cnt"))
        .filter(F.col("cnt") >= 100)
        .orderBy("term")
    )


_Q70_SQL = r"""
SELECT term, count(*) AS cnt
FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      FROM documents)
GROUP BY term
HAVING count(*) >= 100
ORDER BY term
"""


# ---------------------------------------------------------------------------
# Corpus preparation — overlapping chunking and token-budget sequence
# packing (functions/chunking.py), the ops between dedup and a trainer.
# ---------------------------------------------------------------------------


def q85_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-window chunker: 20-word chunks, 5-word overlap (stride 15);
    short docs yield themselves. Pure Generate over the scan — the
    explode factor is len/stride, no shuffle until the final sort."""
    from gov_data_pipeline_spark.functions.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(
        docs, "doc_id", "text", chunk_size=20, overlap=5
    ).orderBy("doc_id", "chunk_id")


_Q85_SQL = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
c AS (
  SELECT doc_id, ws,
         unnest(range(0, greatest(1, CAST(ceil((len(ws) - 5) / 15.0) AS BIGINT))))
           AS chunk_id
  FROM w)
SELECT doc_id, chunk_id,
       array_to_string(ws[CAST(chunk_id * 15 + 1 AS BIGINT)
                          : CAST(chunk_id * 15 + 20 AS BIGINT)], ' ') AS chunk
FROM c
ORDER BY doc_id, chunk_id
"""


def q86_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing, per-language (the window partitions
    by lang, so the running token sum parallelizes across shards — the
    scale shape; a global pack order would single-task the sort)."""
    from gov_data_pipeline_spark.functions.chunking import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return (
        pack_sequences(docs, "doc_id", "text", budget=512, partition_col="lang")
        .select("doc_id", "lang", "n_tokens", "pack_id")
        .orderBy("doc_id")
    )


_Q86_SQL = r"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(text, '[\p{L}\p{N}_]+|[^\p{L}\p{N}_\s]')) AS BIGINT) AS n_tokens
  FROM documents),
s AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS cum_before
  FROM t)
SELECT doc_id, lang, n_tokens,
       CAST(floor(cum_before / 512.0) AS BIGINT) AS pack_id
FROM s
ORDER BY doc_id
"""


# Shared stage expressions for q87/q88/q89 — single definitions so the
# capstone composition (q89) can never drift from the stages it pins
# (the _mutant_embeddings pattern, applied to the text gates).


def _words_col():
    return F.split(F.trim(F.col("text")), r"\s+")


def _n_grams3(ws):
    """3-gram count WITHOUT building the grams: size(_grams3(ws)) ==
    greatest(size(ws) - 2, 1) by construction. HOFs are interpreted
    (CodegenFallback) and Catalyst's CollapseProject re-inlines an
    aliased HOF into every consumer — no CSE outside codegen — so
    every _grams3 reference that can be replaced by arithmetic is one
    whole interpreted pass over the document saved (q88 measured 6.5 s
    -> ~2 s at sf1.0 going from 3 HOF evaluations to 1)."""
    return F.greatest(F.size(ws) - 2, F.lit(1))


def _grams3(ws):
    """All word 3-grams (with duplicates — the repetition gate needs
    multiplicity); short docs yield one degenerate gram."""
    return F.transform(
        F.sequence(F.lit(1), _n_grams3(ws)),
        lambda i: F.concat_ws(" ", F.slice(ws, i, 3)),
    )


def _dup3_ratio(ws):
    """Gopher-style duplicate-3-gram ratio, rounded to 4 decimals.
    The denominator uses the arithmetic gram count (_n_grams3), so the
    interpreted gram builder runs ONCE (inside array_distinct), not
    twice."""
    g = _grams3(ws)
    return F.round(
        F.lit(1.0) - F.size(F.array_distinct(g)) / _n_grams3(ws), 4
    )


# The 13 element_at terms as one SQL string (one Python->JVM crossing,
# not ~50 per plan); it names only _grams13_rows' own ``__`` columns.
_GRAM13_SQL = "concat_ws(' ', {})".format(
    ", ".join(f"element_at(__ws, __i + {j})" for j in range(13))
)


def _grams13_rows(docs: DataFrame, ws) -> DataFrame:
    """(doc_id, s) 13-gram rows (the decontamination membership units)
    WITH per-doc multiplicity, built by POSITION EXPLODE + element_at —
    whole-stage codegen end to end (r13). An array form (transform +
    slice over a position sequence, then explode) paid an interpreted
    lambda per gram (HOFs are CodegenFallback): measured 3.5 s vs
    ~0.4 s at sf0.1 for the explode alone. Grams are not deduplicated
    per doc — consumers dedup in their aggregate (count_distinct /
    distinct / left_semi), which partial-aggregates map-side, so
    nothing extra crosses an exchange. Docs shorter than 13 words
    contribute their full word-join (one row)."""
    return (
        docs.select("doc_id", ws.alias("__ws"))
        .select(
            "doc_id",
            "__ws",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.when(
                        F.size("__ws") >= 13, F.size("__ws") - 12
                    ).otherwise(F.lit(1)),
                )
            ).alias("__i"),
        )
        .select(
            "doc_id",
            F.when(F.size("__ws") >= 13, F.expr(_GRAM13_SQL))
            .otherwise(F.concat_ws(" ", "__ws"))
            .alias("s"),
        )
    )


def _bench_grams(docs: DataFrame, ws) -> DataFrame:
    """The synthesized benchmark set: every 17th doc's words[5:18]."""
    return (
        docs.filter((F.col("doc_id") % 17 == 0) & (F.size(ws) >= 18))
        .select(F.concat_ws(" ", F.slice(ws, 6, 13)).alias("s"))
        .distinct()
    )


def q149_doc_pack_nfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document next-fit-decreasing packing (q86's non-splitting
    sibling — the SFT/eval packer): documents hash into 8 shards, sort
    (n_chars desc, doc_id) within each, and pack into 1200-char bins
    without ever splitting a document.

    Scale shape: the only data entering the operator is (shard, id,
    size) — the text never moves; one Arrow batch per shard runs the
    sequential capacity-reset pass (non-associative, hence the
    documented applyInPandas escape hatch), parallel across shards.
    The oracle unrolls the identical pass as a per-shard linear
    recursive CTE — all-integer, bit-exact.
    """
    from gov_data_pipeline_spark.functions.chunking import pack_documents_nfd
    from gov_data_pipeline_spark.functions.sampling import hash_bucket_col

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        (hash_bucket_col(F.col("doc_id")) % 8).cast("int").alias("shard"),
    )
    return pack_documents_nfd(
        docs, "doc_id", "n_chars", "shard", capacity=1200
    ).orderBy("shard", "doc_id")


_Q149_SQL = """
WITH RECURSIVE d AS (
  SELECT doc_id, coalesce(n_chars, 0) AS n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 8
              AS INT) AS shard
  FROM documents),
o AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY shard
                                    ORDER BY n_chars DESC, doc_id) AS INT) AS rn
  FROM d),
fill(shard, rn, doc_id, n_chars, bin, used) AS (
  SELECT shard, rn, doc_id, n_chars, 1, n_chars FROM o WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_chars,
         CASE WHEN f.used + t.n_chars <= 1200 THEN f.bin ELSE f.bin + 1 END,
         CASE WHEN f.used + t.n_chars <= 1200 THEN f.used + t.n_chars
              ELSE t.n_chars END
  FROM o t JOIN fill f ON t.shard = f.shard AND t.rn = f.rn + 1)
SELECT shard, doc_id, n_chars, CAST(bin AS INT) AS bin
FROM fill
ORDER BY shard, doc_id
"""


def q153_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q149's packer budgeted in TOKENIZER tokens instead of chars —
    how a real training pipeline counts. Token counts come from the
    deterministic mock-BPE tokenizer (``functions/tokenizer.py``:
    vocab hit = 1 token, OOV word = ceil(chars/4) chunks) through ONE
    Arrow-batched pandas UDF — the exact integration shape a real
    tokenizer library takes; everything around the crossing is native.

    Scale shape: the tokenizer runs scan-side (per document,
    embarrassingly parallel, no shuffle added); the packer then sees
    only (shard, id, n_tokens) rows as in q149. The oracle restates
    the token arithmetic in SQL (``MOCK_BPE_SQL``) and unrolls the
    same per-shard NFD pass as a linear recursive CTE — all-integer,
    bit-exact.
    """
    from gov_data_pipeline_spark.functions.chunking import pack_documents_nfd
    from gov_data_pipeline_spark.functions.sampling import hash_bucket_col
    from gov_data_pipeline_spark.functions.tokenizer import mock_bpe_token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        mock_bpe_token_count(F.col("text")).alias("n_tokens"),
        (hash_bucket_col(F.col("doc_id")) % 8).cast("int").alias("shard"),
    )
    return pack_documents_nfd(
        docs, "doc_id", "n_tokens", "shard", capacity=400
    ).orderBy("shard", "doc_id")


from gov_data_pipeline_spark.functions.tokenizer import (  # noqa: E402
    MOCK_BPE_SQL as _MOCK_BPE_SQL,
)

_Q153_SQL = f"""
WITH RECURSIVE d AS (
  SELECT doc_id,
         {_MOCK_BPE_SQL.format(col="text")} AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 8
              AS INT) AS shard
  FROM documents),
o AS MATERIALIZED (
  SELECT *, CAST(row_number() OVER (PARTITION BY shard
                                    ORDER BY n_tokens DESC, doc_id) AS INT) AS rn
  FROM d),
fill(shard, rn, doc_id, n_tokens, bin, used) AS (
  -- MATERIALIZED: the recursive fill term re-evaluates inlined CTEs
  -- once PER ITERATION — with the tokenizer arithmetic inlined this
  -- oracle measured 107.6 s at sf0.1; pinning o costs one pass (2 s)
  SELECT shard, rn, doc_id, n_tokens, 1, n_tokens FROM o WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN f.used + t.n_tokens <= 400 THEN f.bin ELSE f.bin + 1 END,
         CASE WHEN f.used + t.n_tokens <= 400 THEN f.used + t.n_tokens
              ELSE t.n_tokens END
  FROM o t JOIN fill f ON t.shard = f.shard AND t.rn = f.rn + 1)
SELECT shard, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(bin AS INT) AS bin
FROM fill
ORDER BY shard, doc_id
"""


def q87_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-data step that removes
    documents sharing any 13-gram with an evaluation set. The benchmark
    grams are synthesized deterministically (every 17th doc contributes
    its words[5:18] span), so both engines build identical inputs.

    Scale shape: the benchmark side is TINY relative to a pretraining
    corpus, so the membership test is a BROADCAST semi-join against the
    corpus's exploded 13-gram index. Grams are generated by the
    codegen position explode (``_grams13_rows`` — r13; the interpreted
    transform/slice lambda was the dominant cost) rather than via
    shingle_rows' lead-window form precisely so corpus-sized data
    crosses no exchange: the only shuffles left are the distincts over
    the two SMALL relations (benchmark grams, contaminated ids — plan
    pinned). The left_semi ∘ distinct downstream is duplicate-
    insensitive, so dropping the doc-local array_distinct changes
    nothing."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = _words_col()
    bench = _bench_grams(docs, ws)
    ex = _grams13_rows(docs, ws)
    contaminated = (
        ex.join(F.broadcast(bench), "s", "left_semi").select("doc_id").distinct()
    )
    return (
        docs.join(
            F.broadcast(contaminated.withColumn("__hit", F.lit(True))),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce(F.col("__hit"), F.lit(False)).alias("contaminated")
        )
        .orderBy("doc_id")
    )


_Q87_SQL = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
bench AS (
  SELECT DISTINCT array_to_string(ws[6:18], ' ') AS s
  FROM w WHERE doc_id % 17 = 0 AND len(ws) >= 18),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 13
           THEN list_transform(range(1, len(ws) - 11),
                               i -> array_to_string(ws[i:i+12], ' '))
           ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM w),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
cont AS (SELECT DISTINCT ex.doc_id FROM ex JOIN bench USING (s))
SELECT w.doc_id, c.doc_id IS NOT NULL AS contaminated
FROM w LEFT JOIN cont c ON c.doc_id = w.doc_id
ORDER BY w.doc_id
"""


def q154_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q87's scale twin for the regime its broadcast can't reach: when
    the BENCHMARK 13-gram set itself is broadcast-hostile (a large eval
    suite's gram set reaches tens of GB as strings), the membership
    test goes through a Bloom bitset instead — 128 KiB at 2^20 bits
    regardless of insert count (``operators/bloom.py``).

    Plan shape: corpus grams stay expression-level (no exchange, as in
    q87), probe the bitset via k broadcast equi-joins + bit tests, and
    only the SURVIVORS — true hits plus the filter's ~0.1% false
    positives — reach the exact verify join against the benchmark
    grams. At 100 TB that verify is a small shuffle join over a tiny
    fraction of the corpus gram stream (deliberately NOT
    broadcast-hinted here: the premise is that the benchmark set
    doesn't broadcast), so the corpus text itself never shuffles.

    Output is exact — the verify join removes every false positive, so
    the oracle is plain SQL with no Bloom mirror. Emits the per-doc
    count of distinct matched benchmark grams (q87 reports the boolean;
    the count is the triage signal reviewers of a contamination report
    actually want)."""
    from gov_data_pipeline_spark.operators.bloom import bloom_build, bloom_probe

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = _words_col()
    bench = _bench_grams(docs, ws)
    bits = bloom_build(bench, F.col("s"))
    # 13-gram rows via _grams13_rows (r13: codegen position explode;
    # 4.4 s → 1.6 s for the whole query at sf0.1). Grams carry per-doc
    # multiplicity, so the hit count below deduplicates in the
    # aggregate (count_distinct) instead of doc-locally
    # (array_distinct) — same n_hit_grams, and the partial aggregate
    # reduces duplicates map-side before the per-doc exchange.
    ex = _grams13_rows(docs, ws)
    survivors = bloom_probe(ex, F.col("s"), bits)
    # exact verify: bench is distinct; grams carry multiplicity, so
    # count DISTINCT matched benchmark grams per doc.
    hits = (
        survivors.join(bench, "s")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("s")).alias("n_hit_grams"))
    )
    return (
        docs.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hit_grams"), F.lit(0).cast("long")).alias(
                "n_hit_grams"
            ),
        )
        .orderBy("doc_id")
    )


_Q154_SQL = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
bench AS (
  SELECT DISTINCT array_to_string(ws[6:18], ' ') AS s
  FROM w WHERE doc_id % 17 = 0 AND len(ws) >= 18),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 13
           THEN list_transform(range(1, len(ws) - 11),
                               i -> array_to_string(ws[i:i+12], ' '))
           ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM w),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hits AS (
  SELECT ex.doc_id, count(*) AS n
  FROM ex JOIN bench USING (s) GROUP BY ex.doc_id)
SELECT w.doc_id, coalesce(h.n, 0) AS n_hit_grams
FROM w LEFT JOIN hits h USING (doc_id)
ORDER BY w.doc_id
"""


def q155_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 lexical nearest neighbors per document via sparse TF-IDF
    cosine over word BIGRAMS — the inverted-index similarity join
    (``operators/search.sparse_cosine_topk``). Dense-embedding cosine
    (q44/q45/q55) needs vectors; this is the similarity search you run
    straight off text, and the df cap is what keeps the posting-list
    self-join linear-ish at 100 TB (hot terms leave the vector space
    instead of generating |corpus|^2 candidate pairs).

    Bigrams rather than unigrams because similarity lives in word
    ORDER at this fixture's 31-word vocabulary — and in general
    unigram spaces are df-cap casualties. Every weight is integer
    fixed-point (idf = n_docs*1000 div df), so the cosine is
    bit-identical across engines (see the operator docstring) and the
    oracle mirrors it term-for-term with no float-summation hazard.
    The df cap is absolute (100 docs) — the operator docstring records
    the measured blowup a relative cap caused on this fixture."""
    from gov_data_pipeline_spark.operators.search import sparse_cosine_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = _words_col()
    # Bigram rows via POSITION EXPLODE + element_at — whole-stage
    # codegen end to end (r13). The old form built the bigram array
    # with an interpreted ``transform(sequence, i -> slice)`` lambda
    # (HOFs are CodegenFallback): measured 3.6 s vs 0.3 s at sf0.1 for
    # the explode alone — the lambda interpreter, not the data, was
    # q155's dominant cost. Docs with < 2 words produce no rows (the
    # old empty-array explode produced none either).
    term_rows = (
        docs.select("doc_id", ws.alias("__ws"))
        .where(F.size("__ws") >= 2)
        .select(
            "doc_id",
            "__ws",
            F.explode(
                F.sequence(F.lit(1), F.size("__ws") - 1)
            ).alias("__i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at("__ws", F.col("__i")),
                F.element_at("__ws", F.col("__i") + 1),
            ).alias("term"),
        )
    )
    return sparse_cosine_topk(term_rows, id_col="doc_id", k=3, df_cap=100).orderBy(
        "doc_id", "rank"
    )


_Q155_SQL = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
tr AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i+1])) AS term
  FROM w WHERE len(ws) >= 2),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tr GROUP BY doc_id, term),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tr),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
vocab AS (
  SELECT term, (n_docs * 1000) // df AS idf
  FROM dfreq, nd WHERE df <= 100),
p AS (
  SELECT tf.doc_id, tf.term, tf.tf * v.idf AS w
  FROM tf JOIN vocab v USING (term)),
nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM p GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS neighbor_id,
         sum(a.w * b.w) AS dot
  FROM p a JOIN p b ON a.term = b.term AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id),
sc AS (
  SELECT d.doc_id, d.neighbor_id,
         CAST(d.dot AS DOUBLE)
           / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS s
  FROM dots d
  JOIN nrm na ON na.doc_id = d.doc_id
  JOIN nrm nb ON nb.doc_id = d.neighbor_id),
rk AS (
  SELECT doc_id, neighbor_id, s,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY s DESC, neighbor_id) AS rn
  FROM sc)
SELECT doc_id, neighbor_id, round(s, 4) AS cos_sim, rn AS rank
FROM rk WHERE rn <= 3
ORDER BY doc_id, rank
"""


def q138_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination — q87's EMBEDDING sibling:
    drop (here: flag) corpus vectors whose max cosine against the
    evaluation set meets a near-identity threshold, catching the
    paraphrased/reformatted eval leakage that 13-gram matching misses.
    Benchmark = every 17th vector (the corpus keeps its copies, as a
    real corpus contains its eval contamination), so benchmark members
    score exactly 1.0 and genuinely novel vectors fall below 0.999 —
    both branches of the gate are exercised deterministically.

    Scale shape: eval sets are thousands of rows against a 100 TB
    corpus, so the benchmark side is a BROADCAST and the corpus meets
    it in a nested-loop pass WITHOUT shuffling; per-vector max() is a
    map-side partial aggregate on the corpus's own id, so the only
    exchange carries one row per corpus vector. The benchmark is
    PINNED to the base id space (``vec_id < 1e9`` — the scaled-SF
    replicas shift ids past 1e9), because an eval set does NOT grow
    with the corpus: the sf0.1→sf1.0 curve measures 10x corpus against
    the same benchmark, the regime a real decontamination pass is in.
    Norms are precomputed per side (``_pair_cosine``) — the q80/q46
    codegen-budget lesson: a full unrolled cosine per pair is ~3x the
    generated code and recomputes each norm |bench| times. The dot
    itself uses the INTERPRETED ``aggregate`` fold (``dim=None``), not
    the unrolled tree: inside a BroadcastNestedLoopJoin stage the
    128-term unrolled expression cannot compile and evaluates as a
    giant interpreted tree with per-element bounds checks — measured
    5x SLOWER than the single-pass fold here (8.3 s vs 1.6 s at
    sf0.1), the opposite call from the equi-join pair stages where
    unrolling wins. Cosine is round(·, 4)-then-max on both engines
    (q44's proven parity recipe; the fold and the unrolled tree are
    bit-identical by construction).
    Cite: reference has no vector ops; this extends its dedup surface
    (SURVEY L6/L7) the way `handlers/base.py` text cleaning extends
    to `q87_decontaminate`.
    """
    from gov_data_pipeline_spark.operators.similarity import (
        _norm,
        _pair_cosine,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = None  # interpreted fold — see docstring
    bench = emb.filter(
        (F.col("vec_id") % 17 == 0) & (F.col("vec_id") < 1_000_000_000)
    ).select(
        F.col("embedding").alias("b_emb"),
        _norm(F.col("embedding"), dim).alias("b_n"),
    )
    corpus = emb.select(
        "vec_id",
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding"), dim).alias("q_n"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(bench))
        .select(
            "vec_id",
            F.round(
                _pair_cosine(
                    F.col("q_emb"), F.col("b_emb"),
                    F.col("q_n"), F.col("b_n"), dim,
                ),
                4,
            ).alias("c"),
        )
        .groupBy("vec_id")
        .agg(F.max("c").alias("max_benchmark_cos"))
    )
    return scored.select(
        "vec_id",
        "max_benchmark_cos",
        (F.col("max_benchmark_cos") >= 0.999).alias("contaminated"),
    ).orderBy("vec_id")


_Q138_SQL = """
WITH bench AS (
  SELECT embedding AS b_emb FROM embeddings
  WHERE vec_id % 17 = 0 AND vec_id < 1000000000),
scored AS (
  SELECT e.vec_id,
         max(round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(b.b_emb AS DOUBLE[])),
                   4)) AS max_benchmark_cos
  FROM embeddings e CROSS JOIN bench b
  GROUP BY e.vec_id)
SELECT vec_id, max_benchmark_cos,
       max_benchmark_cos >= 0.999 AS contaminated
FROM scored
ORDER BY vec_id
"""


def q140_semantic_decontaminate_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q138's registered SCALE TWIN (the q74→q80 pattern): the
    corpus-vs-benchmark pass goes through the hyperplane-LSH candidate
    generator instead of the broadcast nested loop, so candidate cost
    scales with bucket occupancy, not |corpus|·|bench| — the shape
    that survives when the benchmark is large (multi-benchmark suites)
    or the nested loop's per-pair cost bites. At the 0.999
    near-identity threshold LSH recall is essentially 1 (a colliding
    pair agrees on every plane with probability → 1 as cos → 1), and
    ``exclude_self=False`` keeps the benchmark members' own corpus
    copies flagged — an eval row in the corpus IS contamination. The
    md5 plane family makes buckets bit-reproducible, so candidates,
    verification, and the final gate all hash against the oracle.
    Plan pinned CartesianProduct/BroadcastNestedLoopJoin-free.
    """
    from gov_data_pipeline_spark.operators.similarity import lsh_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = _emb_dim(spark, sf_dir)
    bench = emb.filter(
        (F.col("vec_id") % 17 == 0) & (F.col("vec_id") < 1_000_000_000)
    )
    hits = (
        lsh_cosine_pairs(
            emb, bench, "vec_id", "vec_id", "embedding", "embedding",
            threshold=0.999, bits=6, tables=6,
            exclude_self=False, hash_family="md5", dim=dim,
        )
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
    )
    return (
        emb.select("vec_id")
        .join(
            F.broadcast(hits.withColumn("__hit", F.lit(True))),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce(F.col("__hit"), F.lit(False)).alias("contaminated"),
        )
        .orderBy("vec_id")
    )


# Bucket arithmetic identical to _Q45_SQL/_Q80_SQL (36 planes = 6
# tables x 6 bits, ±1 from the low bit of md5's first hex char);
# candidates are corpus-vs-benchmark bucket collisions (self included),
# verified on the 4-decimal-rounded cosine at the near-identity bar.
_Q140_SQL = """
WITH u AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
bench_ids AS (
  SELECT vec_id FROM embeddings
  WHERE vec_id % 17 = 0 AND vec_id < 1000000000),
ex AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS d,
         unnest(embedding) AS x
  FROM u),
dims AS (SELECT DISTINCT d FROM ex),
planes AS (
  SELECT dims.d, p.p AS p,
         CASE WHEN ('0x' || substr(md5(dims.d::VARCHAR || ',' || p.p::VARCHAR),
                                   1, 1))::INT & 1 = 1
              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sign
  FROM dims CROSS JOIN range(36) p(p)),
dots AS (
  SELECT e.vec_id, pl.p,
         sum(CAST(floor(e.x * 1000000 + 0.5) AS BIGINT) * pl.sign) AS dot
  FROM ex e JOIN planes pl ON pl.d = e.d
  GROUP BY e.vec_id, pl.p),
buckets AS (
  SELECT vec_id, (p // 6)::INT AS t,
         sum(CASE WHEN dot > 0 THEN (1::BIGINT << (p % 6)) ELSE 0 END)::BIGINT AS b
  FROM dots GROUP BY vec_id, (p // 6)::INT),
cand AS (
  SELECT DISTINCT q.vec_id AS a_id, c.vec_id AS b_id
  FROM buckets q
  JOIN buckets c ON q.t = c.t AND q.b = c.b
  JOIN bench_ids bi ON bi.vec_id = c.vec_id),
hits AS (
  SELECT DISTINCT cand.a_id
  FROM cand
  JOIN u a ON a.vec_id = cand.a_id
  JOIN u b ON b.vec_id = cand.b_id
  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.999)
SELECT e.vec_id, h.a_id IS NOT NULL AS contaminated
FROM embeddings e LEFT JOIN hits h ON h.a_id = e.vec_id
ORDER BY e.vec_id
"""


def q142_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE overlap matrix — exact shingle-Jaccard between
    whole sources, the corpus-analysis report that tells a data-mixing
    job which feeds duplicate each other (and therefore which mixture
    weights double-count): (source_a, source_b, n_a, n_b, n_common,
    jaccard) for every unordered source pair, including zero-overlap
    pairs.

    Shape: ONE shuffle of distinct (source, shingle) rows; the
    intersection is a self-equi-join on the shingle whose per-shingle
    fan-out is bounded by (#sources carrying that shingle choose 2) —
    fine for bounded source cardinality (feeds, registries). For
    high-cardinality grouping (per-DOMAIN overlap over millions of
    hosts) compose ``cap_shingle_doc_freq`` first to drop boilerplate
    shingles, or switch to per-group MinHash signatures
    (``minhash_doc_profile`` with the group as the id) and estimate —
    both registered operators. The tiny per-source size relation
    cross-joins against itself (#sources² rows) to surface
    zero-overlap pairs explicitly.
    """
    from gov_data_pipeline_spark.operators.dedup import shingle_rows

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    sh = shingle_rows(
        docs, "source", F.col("text"), 3, widen=False, distinct=True
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "s")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    mat = (
        sizes.alias("x")
        .crossJoin(F.broadcast(sizes.alias("y")))
        .filter(F.col("x.source") < F.col("y.source"))
        .select(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
            F.col("x.n").alias("n_a"),
            F.col("y.n").alias("n_b"),
        )
    )
    common = F.coalesce(F.col("n_common"), F.lit(0).cast("long"))
    return (
        mat.join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            common.alias("n_common"),
            F.round(
                common / (F.col("n_a") + F.col("n_b") - common), 6
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


_Q142_SQL = r"""
WITH w AS (
  SELECT source, string_split_regex(trim(text), '\s+') AS ws FROM documents),
sh0 AS (
  SELECT source,
         unnest(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           ELSE [array_to_string(ws, ' ')] END) AS s
  FROM w),
sh AS (SELECT DISTINCT source, s FROM sh0),
sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY a.source, b.source),
mat AS (
  SELECT x.source AS source_a, y.source AS source_b, x.n AS n_a, y.n AS n_b
  FROM sizes x JOIN sizes y ON x.source < y.source)
SELECT m.source_a, m.source_b, m.n_a, m.n_b,
       CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
       round(coalesce(i.n_common, 0) / (m.n_a + m.n_b - coalesce(i.n_common, 0)),
             6) AS jaccard
FROM mat m LEFT JOIN inter i
  ON i.source_a = m.source_a AND i.source_b = m.source_b
ORDER BY m.source_a, m.source_b
"""


def q144_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-PASSAGE spans — the substring-level
    dedup signal (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): document-level near-dup (q41/q42) misses
    the boilerplate paragraph pasted into thousands of otherwise-unique
    pages, and this is the operator that finds it. A word position is
    "duplicated" when its 5-gram also occurs in at least one OTHER
    document (distinct-doc count >= 2 — within-doc repeats are q88's
    domain and deliberately don't count); consecutive duplicated
    positions merge into maximal spans (gaps-and-islands), and spans of
    >= 3 grams (>= 7 shared words) are reported as
    (doc_id, start_word, end_word, n_grams).

    Scale shape: the only corpus-sized relation that ever crosses an
    exchange is (doc_id, pos, md5-of-gram) — fixed width regardless of
    passage length, which is why the gram is hashed BEFORE the shuffle
    (md5 so the oracle computes the identical key). That relation has
    two consumers (global distinct-doc frequency; position back-join),
    each shuffling on the hash once; the shuffle-free scan→split→md5
    map pipeline feeding them runs twice — the standard Spark trade of
    recomputing cheap map work over persisting a corpus-sized index
    (persist the `grams` relation only when the text scan itself
    dominates). Hot boilerplate grams skew both the frequency aggregate
    (map-side partials absorb it) and the back-join (AQE skew-join
    splits it); the islands window partitions by doc_id, bounded by
    document length. Only integer arithmetic — no float-ordering
    hazards across engines.
    """
    from gov_data_pipeline_spark.operators.dedup import duplicate_passage_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicate_passage_spans(
        docs, "doc_id", F.col("text"), n=5, min_grams=3
    ).orderBy("doc_id", "start_word")


_Q144_SQL = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
g AS (
  SELECT doc_id, pos, md5(array_to_string(ws[pos:pos+4], ' ')) AS h
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS pos
        FROM w WHERE len(ws) >= 5)),
dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
d AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS i
  FROM d),
sp AS (
  SELECT doc_id, CAST(min(pos) AS INT) AS start_word,
         CAST(max(pos) + 4 AS INT) AS end_word, count(*) AS n_grams
  FROM isl GROUP BY doc_id, i)
SELECT doc_id, start_word, end_word, n_grams
FROM sp WHERE n_grams >= 3
ORDER BY doc_id, start_word
"""


def q176_passage_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-passage REMOVAL (operators/dedup.
    remove_duplicate_passages) — the step q144 only reports: every
    exact repeated passage (5-gram runs of >= 3 grams shared across
    documents) keeps its first occurrence (min (doc_id, start) across
    the corpus) and every other occurrence is CUT from its document's
    text. Planted removals: every 5th doc re-published under id+3M
    with a 2-word prefix — its entire body is an exact copy of the
    original, so the variant must come back as just the prefix while
    the original (the winner) keeps every word. Natural cross-doc
    passages in the fixture get the same treatment, identically in
    both engines. Output is the rewritten corpus row per document —
    the strongest possible pin, since the driver hashes the full
    cleaned text."""
    from gov_data_pipeline_spark.operators.dedup import (
        remove_duplicate_passages,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.lit("republished notice "), F.col("text")).alias("text"),
    )
    corpus = docs.unionByName(variants)
    return remove_duplicate_passages(
        corpus, "doc_id", F.col("text"), n=5, min_grams=3
    ).orderBy("doc_id")


_Q176_SQL = r"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, 'republished notice ' || text AS text
  FROM documents WHERE doc_id % 5 = 0),
w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM u),
g AS (
  SELECT doc_id, pos, md5(array_to_string(ws[pos:pos+4], ' ')) AS h
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS pos
        FROM w WHERE len(ws) >= 5)),
dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
d AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS i
  FROM d),
sp AS (
  SELECT doc_id, CAST(min(pos) AS INT) AS s,
         CAST(max(pos) + 4 AS INT) AS e, count(*) AS ng
  FROM isl GROUP BY doc_id, i),
spc AS (
  SELECT sp.doc_id, s, e,
         md5(array_to_string(w.ws[s:e], ' ')) AS chash
  FROM sp JOIN w ON w.doc_id = sp.doc_id
  WHERE ng >= 3),
winners AS (
  SELECT chash, min(ROW(doc_id, s)) AS win FROM spc GROUP BY chash),
losers AS (
  SELECT spc.doc_id, s, e
  FROM spc JOIN winners ON winners.chash = spc.chash
  WHERE ROW(spc.doc_id, spc.s) <> winners.win),
pos AS (
  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS p,
         unnest(ws) AS word
  FROM w),
deleted AS (
  SELECT DISTINCT pos.doc_id, p
  FROM pos JOIN losers ON losers.doc_id = pos.doc_id
  WHERE p >= losers.s AND p <= losers.e),
kept AS (
  SELECT pos.doc_id, pos.p AS p, word
  FROM pos LEFT JOIN deleted
    ON deleted.doc_id = pos.doc_id AND deleted.p = pos.p
  WHERE deleted.p IS NULL),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(word, ' ' ORDER BY p) AS clean_text
  FROM kept GROUP BY doc_id)
SELECT u.doc_id,
       CAST(len(w.ws) AS BIGINT) AS n_words,
       CAST(len(w.ws) - coalesce(r.n_kept, 0) AS BIGINT)
         AS n_removed_words,
       coalesce(r.clean_text, '') AS clean_text
FROM u
JOIN w ON w.doc_id = u.doc_id
LEFT JOIN rebuilt r ON r.doc_id = u.doc_id
ORDER BY u.doc_id
"""


def q200_passage_miss_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED miss-rate of the fixed-width substring dedup
    (q144/q176's positional 5-gram, ``min_grams=3`` operator) — the
    honesty report the approximate tiers all carry (q186/q190/q197
    pattern): what does the fixed window actually miss?

    Protocol: plant duplicated passages of KNOWN lengths (3, 5, 7, 9,
    15 words — the first L words of every 5th sufficiently-long
    document) into two fresh host rows each, wrapped in host-unique
    sentinel words so no n-gram can straddle the passage boundary and
    still be duplicated. Run ``duplicate_passage_spans`` over corpus +
    planted rows and report, per planted length: how many planted
    hosts were detected, the detection fraction, the total span grams
    recovered, and the theoretical interior-gram budget ``max(0,
    L - n + 1) = L - 4`` per host. The structural result this pins:
    lengths below
    ``min_grams + n - 1 = 7`` words are INVISIBLE to the operator
    (detect_frac 0.0 for L=3 and L=5, 1.0 from L=7 up) — a
    quantified boundary, not a claim, and re-derived on any fixture.

    Scale shape: the planted rows are a corpus-fraction projection
    (two small rows per donor); the detection pass is
    ``duplicate_passage_spans`` itself (fixed-width hashed grams
    across exchanges, see q144); the report is a tiny groupBy on L.
    Determinism: detection depends only on planted-gram geometry —
    natural cross-doc duplicates cannot extend a run past the
    sentinel words, and passage-interior grams are already
    >= 2-doc duplicated by construction (donor + both hosts).
    """
    from gov_data_pipeline_spark.operators.dedup import (
        duplicate_passage_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    donors = (
        docs.select("doc_id", ws.alias("__ws"))
        .filter((F.size("__ws") >= 20) & (F.col("doc_id") % 5 == 0))
        .select(
            "doc_id",
            F.element_at(
                F.array(*[F.lit(x) for x in (3, 5, 7, 9, 15)]),
                (F.expr("pmod(doc_id div 5, 5)") + 1).cast("int"),
            ).alias("L"),
            "__ws",
        )
    )
    planted = (
        donors.select(
            "doc_id",
            "L",
            F.explode(F.array(F.lit("a"), F.lit("b"))).alias("side"),
            F.array_join(F.slice(F.col("__ws"), 1, F.col("L")), " ").alias(
                "__p"
            ),
        )
        .select(
            (
                F.col("doc_id")
                + F.when(F.col("side") == "a", 10_000_000).otherwise(
                    20_000_000
                )
            ).alias("nid"),
            "side",
            "L",
            "__p",
        )
        .select(
            F.col("nid").alias("doc_id"),
            "L",
            F.concat_ws(
                " ",
                F.concat(F.lit("px"), F.col("side"), F.col("nid")),
                F.col("__p"),
                F.concat(F.lit("sx"), F.col("side"), F.col("nid")),
            ).alias("text"),
        )
    )
    corpus = docs.unionByName(planted.select("doc_id", "text"))
    spans = duplicate_passage_spans(
        corpus, "doc_id", F.col("text"), n=5, min_grams=3
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__ns"), F.sum("n_grams").alias("__g")
    )
    per = planted.select("doc_id", "L").join(per_doc, "doc_id", "left")
    return (
        per.groupBy("L")
        .agg(
            F.count(F.lit(1)).alias("n_planted"),
            F.sum(
                F.when(F.coalesce(F.col("__ns"), F.lit(0)) > 0, 1).otherwise(
                    0
                )
            ).alias("n_detected"),
            F.sum(F.coalesce(F.col("__g"), F.lit(0))).alias(
                "sum_span_grams"
            ),
        )
        .select(
            F.col("L").cast("int").alias("planted_len"),
            "n_planted",
            "n_detected",
            F.round(F.col("n_detected") / F.col("n_planted"), 6).alias(
                "detect_frac"
            ),
            F.col("sum_span_grams").cast("long").alias("sum_span_grams"),
            F.greatest(F.lit(0), F.col("L") - 4)
            .cast("long")
            .alias("window_grams"),
        )
        .orderBy("planted_len")
    )


_Q200_SQL = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
don AS (
  SELECT doc_id, ws,
         ([3, 5, 7, 9, 15])[CAST((doc_id // 5) % 5 AS INT) + 1] AS L
  FROM w WHERE len(ws) >= 20 AND doc_id % 5 = 0),
planted AS (
  SELECT doc_id + 10000000 AS doc_id, L,
         'pxa' || (doc_id + 10000000) || ' ' ||
         array_to_string(ws[1:L], ' ') ||
         ' sxa' || (doc_id + 10000000) AS text
  FROM don
  UNION ALL
  SELECT doc_id + 20000000 AS doc_id, L,
         'pxb' || (doc_id + 20000000) || ' ' ||
         array_to_string(ws[1:L], ' ') ||
         ' sxb' || (doc_id + 20000000) AS text
  FROM don),
u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id, text FROM planted),
wu AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM u),
g AS (
  SELECT doc_id, pos, md5(array_to_string(ws[pos:pos+4], ' ')) AS h
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS pos
        FROM wu WHERE len(ws) >= 5)),
dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
d AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS i
  FROM d),
sp AS (
  SELECT doc_id, count(*) AS n_grams
  FROM isl GROUP BY doc_id, i HAVING count(*) >= 3),
per_doc AS (
  SELECT doc_id, count(*) AS ns, sum(n_grams) AS g
  FROM sp GROUP BY doc_id),
per AS (
  SELECT p.doc_id, p.L, coalesce(s.ns, 0) AS ns, coalesce(s.g, 0) AS g
  FROM planted p LEFT JOIN per_doc s ON s.doc_id = p.doc_id)
SELECT CAST(L AS INT) AS planted_len,
       count(*) AS n_planted,
       CAST(sum(CASE WHEN ns > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_detected,
       round(CAST(sum(CASE WHEN ns > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS detect_frac,
       CAST(sum(g) AS BIGINT) AS sum_span_grams,
       CAST(greatest(0, L - 4) AS BIGINT) AS window_grams
FROM per GROUP BY L ORDER BY planted_len
"""


def q202_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall report for the INT8-QUANTIZED search tier (r12 verdict
    item #6: q118 quantizes for storage but every ANN tier searched
    float — this closes the loop, in the q186/q197 honesty pattern):
    per query, recall@5 against the float brute-force truth for BOTH

    - ``recall_int8`` — brute-force search over int8 codes (pure
      quantization effect: candidate set identical to the truth's, so
      any miss is the 1-byte/dim representation, nothing else), and
    - ``recall_ivf8`` — ``ivf_topk(int8=True)`` (IVF-SQ8: float cell
      assignment, 16 cells / 3 probes exactly like q188's float tier,
      int8 candidate scoring) — the production operating point, whose
      misses compound coarse-cell pruning with quantization.

    Reading q188's float-IVF recall beside this query's two columns
    separates the three loss sources (cells, codes, both) on any
    fixture. Cross-engine determinism: the quantizer is q118's
    bit-for-bit (``floor(x·127/scale+0.5)``, zero-scale → zeros);
    integer dots are exact in both engines (long fold in Spark, sums
    < 2^53 in DuckDB); the only floats are one sqrt per vector and
    one divide per pair, rounded to 4 before ranking with
    neighbor-id tiebreaks — q186-family convention.

    Scale shape: the brute-int8 arm broadcasts the 20 quantized query
    rows (the deliberate ground-truth pattern of q46/q186); the IVF
    arm is ``ivf_topk``'s plan — corpus-side one (cell) row per
    vector, scoring bounded by cell occupancy × n_probe.
    """
    from gov_data_pipeline_spark.operators.similarity import (
        _int8_pair_cosine,
        _int8_vec_side,
    )
    from pyspark.sql import Window as W

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding", k=5
    ).select("vec_id", "neighbor_id")

    q8 = _int8_vec_side(queries, "vec_id", "embedding", "__qid", "__qv", "__qn")
    c8 = _int8_vec_side(emb, "vec_id", "embedding", "__cid", "__cv", "__cn")
    brute8 = (
        c8.crossJoin(F.broadcast(q8))
        .filter(F.col("__qid") != F.col("__cid"))
        .select(
            "__qid",
            "__cid",
            F.round(
                _int8_pair_cosine(
                    F.col("__qv"), F.col("__cv"),
                    F.col("__qn"), F.col("__cn"),
                ),
                4,
            ).alias("__sim"),
        )
        .filter(F.col("__sim").isNotNull())
    )
    w8 = W.partitionBy("__qid").orderBy(
        F.col("__sim").desc(), F.col("__cid").asc()
    )
    brute8_top = (
        brute8.withColumn("__rk", F.row_number().over(w8))
        .filter(F.col("__rk") <= 5)
        .select(F.col("__qid").alias("__b8q"), F.col("__cid").alias("__b8n"))
    )
    ivf8_top = ivf_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding",
        k=5, n_centroids=16, n_probe=3, int8=True,
    ).select(F.col("vec_id").alias("__i8q"), F.col("neighbor_id").alias("__i8n"))

    return (
        exact.join(
            brute8_top,
            (exact.vec_id == F.col("__b8q"))
            & (exact.neighbor_id == F.col("__b8n")),
            "left",
        )
        .join(
            ivf8_top,
            (exact.vec_id == F.col("__i8q"))
            & (exact.neighbor_id == F.col("__i8n")),
            "left",
        )
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.count("__b8n").alias("n_hit_int8"),
            F.round(
                F.count("__b8n").cast("double") / F.count(F.lit(1)), 4
            ).alias("recall_int8"),
            F.count("__i8n").alias("n_hit_ivf8"),
            F.round(
                F.count("__i8n").cast("double") / F.count(F.lit(1)), 4
            ).alias("recall_ivf8"),
        )
        .orderBy("vec_id")
    )


_Q202_SQL = """
WITH exact_scored AS (
  SELECT q.vec_id,
         c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 4)
           AS cosine_sim
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20),
exact_top AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS rk
    FROM exact_scored) WHERE rk <= 5),
xd AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
  FROM embeddings),
q8 AS (
  SELECT vec_id,
         list_transform(xd, x -> CASE WHEN sc = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(x * 127 / sc + 0.5) AS BIGINT) END) AS qv
  FROM (SELECT vec_id, xd,
               list_aggregate(list_transform(xd, y -> abs(y)), 'max') AS sc
        FROM xd)),
n8 AS (
  SELECT vec_id, qv,
         sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))
           AS nrm
  FROM q8),
int8_scored AS (
  SELECT q.vec_id, c.vec_id AS neighbor_id,
         round(CAST(list_sum(list_transform(
                 range(1, len(q.qv) + 1), i -> q.qv[i] * c.qv[i]))
               AS DOUBLE) / nullif(q.nrm * c.nrm, 0), 4) AS sim
  FROM n8 q JOIN n8 c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20),
int8_top AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, neighbor_id) AS rk
    FROM int8_scored WHERE sim IS NOT NULL) WHERE rk <= 5),
cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings ORDER BY vec_id LIMIT 16),
q_assign AS (
  SELECT e.vec_id AS qid, c.cid,
         list_inner_product(c.cv, c.cv)
           - 2 * list_inner_product(CAST(e.embedding AS DOUBLE[]), c.cv)
           AS dist
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id < 20),
q_cells AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid
                              ORDER BY dist ASC, cid ASC) AS rn
    FROM q_assign)
  WHERE rn <= 3),
c_assign AS (
  SELECT e.vec_id AS nid, c.cid,
         list_inner_product(c.cv, c.cv)
           - 2 * list_inner_product(CAST(e.embedding AS DOUBLE[]), c.cv)
           AS dist
  FROM embeddings e CROSS JOIN cents c),
c_cells AS (
  SELECT nid, cid FROM (
    SELECT nid, cid,
           row_number() OVER (PARTITION BY nid
                              ORDER BY dist ASC, cid ASC) AS rn
    FROM c_assign)
  WHERE rn = 1),
cand AS (
  SELECT DISTINCT q.qid, c.nid
  FROM q_cells q JOIN c_cells c ON q.cid = c.cid
  WHERE q.qid <> c.nid),
ivf8_scored AS (
  SELECT cand.qid AS vec_id, cand.nid AS neighbor_id,
         round(CAST(list_sum(list_transform(
                 range(1, len(qn.qv) + 1), i -> qn.qv[i] * cn.qv[i]))
               AS DOUBLE) / nullif(qn.nrm * cn.nrm, 0), 4) AS sim
  FROM cand
  JOIN n8 qn ON qn.vec_id = cand.qid
  JOIN n8 cn ON cn.vec_id = cand.nid),
ivf8_top AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, neighbor_id) AS rk
    FROM ivf8_scored WHERE sim IS NOT NULL) WHERE rk <= 5)
SELECT e.vec_id,
       count(*) AS k,
       CAST(count(b.neighbor_id) AS BIGINT) AS n_hit_int8,
       round(CAST(count(b.neighbor_id) AS DOUBLE) / count(*), 4)
         AS recall_int8,
       CAST(count(i.neighbor_id) AS BIGINT) AS n_hit_ivf8,
       round(CAST(count(i.neighbor_id) AS DOUBLE) / count(*), 4)
         AS recall_ivf8
FROM exact_top e
LEFT JOIN int8_top b
  ON b.vec_id = e.vec_id AND b.neighbor_id = e.neighbor_id
LEFT JOIN ivf8_top i
  ON i.vec_id = e.vec_id AND i.neighbor_id = e.neighbor_id
GROUP BY e.vec_id
ORDER BY e.vec_id
"""


def q88_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition gate: fraction of
    duplicate 3-grams per document. Deliberately EXPRESSION-level
    (transform/slice/array_distinct in one projection): a per-document
    ratio needs no join and no shuffle, so the whole filter is a single
    map stage over the scan — the opposite trade from the corpus-wide
    sketches, where interpreted lambdas lose to explode+agg because a
    shuffle was needed anyway."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = _words_col()
    ratio = _dup3_ratio(ws)
    return (
        docs.select(
            "doc_id",
            _n_grams3(ws).cast("bigint").alias("n_grams"),
            ratio.alias("dup_ratio"),
            (ratio > 0.2).alias("flagged"),
        )
        .orderBy("doc_id")
    )


_Q88_SQL = r"""
WITH g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ws) - 2, 1) + 1),
                        i -> array_to_string(ws[i:i+2], ' ')) AS grams
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        FROM documents))
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       round(1.0 - len(list_distinct(grams)) / len(grams), 4) AS dup_ratio,
       round(1.0 - len(list_distinct(grams)) / len(grams), 4) > 0.2 AS flagged
FROM g
ORDER BY doc_id
"""


def q172_top_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, Table A1):
    per document, the fraction of characters covered by the MOST
    FREQUENT word n-gram, for n = 2, 3, 4 — the boilerplate/chant
    detector that complements q88's duplicate-3-gram RATIO (q88 asks
    "how much repeats at all", this asks "how dominant is the single
    worst offender"). Coverage uses the Gopher convention
    ``count * len(gram) / len(text)`` with overlapping occurrences
    counted (capped at 1.0 — 'a a a a' covers more than its length).

    One Generate for all three n values, and the gram arrays come from
    CODEGEN'D REGEX, not an interpreted higher-order function:
    ``regexp_extract_all`` with a word-start lookbehind and a capturing
    lookahead (``(?<=^| )(?=(\\S+ \\S+))``) emits every OVERLAPPING
    n-gram of the whitespace-normalized text — measured 10x the
    slice/concat_ws ``transform`` form (0.7 s vs 7.4 s for the same
    explode at sf0.1: HOF lambdas are interpreted per element, regex
    runs inside codegen; same family of finding as the q164
    ``\\p{Alnum}`` fix). The n tag is recovered from the gram itself
    (word count) — no struct building. Then one (doc, n, gram) count
    aggregate and a ``max(struct(cnt, g))`` per-(doc, n) aggregate —
    NOT a row_number window: the struct max has the same deterministic
    tiebreak (count desc, then gram desc — struct comparison is
    field-lexicographic in both engines), but it partial-aggregates
    map-side, so the second exchange carries one candidate row per
    (doc, n) per map partition and never sorts (the window form
    shuffled + sorted every gram-count row; this reshape took the
    sf0.1→sf1.0 curve from 3.0x/10x — the steepest in SCALE.md — down
    with the oracle hash unchanged). Docs with fewer than n words
    produce no row for that n."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))

    def grams_re(n: int):
        pat = r"(?<=^| )(?=(\S+" + r" \S+" * (n - 1) + r"))"
        return F.regexp_extract_all(norm, F.lit(pat), 1)

    grams = docs.select(
        "doc_id",
        F.length("text").alias("__len"),
        F.explode(F.concat(grams_re(2), grams_re(3), grams_re(4))).alias("g"),
    ).select(
        "doc_id",
        "__len",
        F.size(F.split("g", " ")).alias("n"),
        "g",
    )
    counts = grams.groupBy("doc_id", "__len", "n", "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = counts.groupBy("doc_id", "__len", "n").agg(
        F.max(F.struct(F.col("cnt"), F.col("g"))).alias("__top")
    )
    return (
        top.select(
            "doc_id",
            "n",
            F.col("__top.g").alias("top_gram"),
            F.col("__top.cnt").alias("top_count"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("__top.cnt") * F.length("__top.g") / F.col("__len"),
                ),
                4,
            ).alias("char_fraction"),
        )
        .orderBy("doc_id", "n")
    )


_Q172_SQL = r"""
WITH ws AS (
  SELECT doc_id, length(text) AS len,
         string_split_regex(trim(text), '\s+') AS w
  FROM documents),
grams AS (
  SELECT doc_id, len, 2 AS n,
         unnest(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i+1])) AS g
  FROM ws WHERE len(w) >= 2
  UNION ALL
  SELECT doc_id, len, 3 AS n,
         unnest(list_transform(range(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
  FROM ws WHERE len(w) >= 3
  UNION ALL
  SELECT doc_id, len, 4 AS n,
         unnest(list_transform(range(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                    || ' ' || w[i+3]))
  FROM ws WHERE len(w) >= 4),
counts AS (
  SELECT doc_id, len, n, g, count(*) AS cnt
  FROM grams GROUP BY 1, 2, 3, 4),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, n
                               ORDER BY cnt DESC, g DESC) AS rk
  FROM counts)
SELECT doc_id, n, g AS top_gram, CAST(cnt AS BIGINT) AS top_count,
       round(least(1.0, cnt * length(g) / len), 4) AS char_fraction
FROM ranked WHERE rk = 1
ORDER BY doc_id, n
"""


def q89_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone v2 — the round-4 corpus-prep surface composed as ONE
    oracle-checked pipeline, the way a pretraining run would chain it:
    repetition gate (q88's ratio) -> benchmark decontamination (q87's
    anti-join) -> overlapping chunking of survivors (q85) -> per-language
    token-budget packing of the chunks (q86, budget 128). Each stage is
    verified on its own elsewhere; this pins the COMPOSITION, q75-style.

    Scale shape inherited from the stages: the gates are projections +
    broadcast anti-join (corpus never shuffles until packing), chunking
    is a Generate, and the only wide exchange is the per-language
    packing window."""
    from gov_data_pipeline_spark.functions.chunking import chunk_documents, pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ws = _words_col()

    # stage 1: repetition gate (q88's duplicate-3-gram ratio <= 0.2)
    gated = docs.filter(_dup3_ratio(ws) <= 0.2)

    # stage 2: decontamination (q87's bench grams, broadcast anti-join;
    # r13: codegen position-explode gram rows — distinct downstream is
    # duplicate-insensitive)
    bench = _bench_grams(docs, ws)
    ex = _grams13_rows(docs, ws)
    contaminated = (
        ex.join(F.broadcast(bench), "s", "left_semi").select("doc_id").distinct()
    )
    kept = gated.join(F.broadcast(contaminated), "doc_id", "left_anti")

    # stage 3: chunk survivors (20-word windows, 5 overlap)
    chunks = chunk_documents(
        kept.select("doc_id", "text"), "doc_id", "text", chunk_size=20, overlap=5
    ).join(kept.select("doc_id", "lang"), "doc_id")

    # stage 4: pack chunks per language, budget 128 tokens (composite
    # window order — a synthesized doc_id*K+chunk_id key would collide
    # for documents with >= K chunks and make the order nondeterministic)
    return (
        pack_sequences(
            chunks, ["doc_id", "chunk_id"], "chunk", budget=128,
            partition_col="lang",
        )
        .select("doc_id", "chunk_id", "lang", "n_tokens", "pack_id")
        .orderBy("doc_id", "chunk_id")
    )


_Q89_SQL = r"""
WITH w AS (
  SELECT doc_id, lang, text, string_split_regex(trim(text), '\s+') AS ws
  FROM documents),
rep AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           round(1.0 - len(list_distinct(g)) / len(g), 4) AS ratio
    FROM (SELECT doc_id,
                 list_transform(range(1, greatest(len(ws) - 2, 1) + 1),
                                i -> array_to_string(ws[i:i+2], ' ')) AS g
          FROM w))
  WHERE ratio <= 0.2),
bench AS (
  SELECT DISTINCT array_to_string(ws[6:18], ' ') AS s
  FROM w WHERE doc_id % 17 = 0 AND len(ws) >= 18),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 13
           THEN list_transform(range(1, len(ws) - 11),
                               i -> array_to_string(ws[i:i+12], ' '))
           ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM w),
cont AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) e
  JOIN bench USING (s)),
kept AS (
  SELECT w.* FROM w
  JOIN rep USING (doc_id)
  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
chunks AS (
  SELECT doc_id, lang, chunk_id,
         array_to_string(ws[CAST(chunk_id * 15 + 1 AS BIGINT)
                            : CAST(chunk_id * 15 + 20 AS BIGINT)], ' ') AS chunk
  FROM (SELECT doc_id, lang, ws,
               unnest(range(0, greatest(1, CAST(ceil((len(ws) - 5) / 15.0) AS BIGINT))))
                 AS chunk_id
        FROM kept)),
tok AS (
  SELECT doc_id, chunk_id, lang,
         CAST(len(regexp_extract_all(chunk, '[\p{L}\p{N}_]+|[^\p{L}\p{N}_\s]')) AS BIGINT) AS n_tokens
  FROM chunks)
SELECT doc_id, chunk_id, lang, n_tokens,
       CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, chunk_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens) / 128.0) AS BIGINT) AS pack_id
FROM tok
ORDER BY doc_id, chunk_id
"""


def q74_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup end-to-end: cosine near-dup pairs (the q46
    construction — planted mutants at >= 0.99) -> connected components
    -> per-vector cluster id + canonical flag. The semantic twin of
    q67's lexical clustering. Like q46, the brute-force pair stage is
    the DELIBERATE ground-truth baseline; q80 is this exact pipeline
    on LSH candidates (plan pinned cross-join-free) and is the
    registered scale path — the two stay registered side by side so
    the sketch tier's recall is permanently measured against the
    exact tier."""
    from gov_data_pipeline_spark.operators.graph import dedup_clusters

    from gov_data_pipeline_spark.operators.similarity import _norm, _pair_cosine

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mutants = _mutant_embeddings(emb)
    dim = _emb_dim(spark, sf_dir)
    corpus = emb.unionByName(mutants)
    # norms precomputed per side — same 64 KB-codegen fix as q46; the
    # pair stage stays whole-stage-compiled instead of interpreted
    m = mutants.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("__va"),
        _norm(F.col("embedding"), dim).alias("__na"),
    )
    o = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("__vb"),
        _norm(F.col("embedding"), dim).alias("__nb"),
    )
    # threshold on the ROUNDED similarity, mirrored by the oracle —
    # raw-float thresholds can disagree across engines by ulps
    pairs = (
        m.crossJoin(o)
        .select(
            "a_id",
            "b_id",
            F.round(
                _pair_cosine(
                    F.col("__va"), F.col("__vb"),
                    F.col("__na"), F.col("__nb"), dim,
                ),
                4,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= 0.99)
        .select("a_id", "b_id")
    )
    return (
        dedup_clusters(pairs, corpus.select("vec_id"), "vec_id")
        .select("vec_id", "component", "is_canonical")
        .orderBy("vec_id")
    )


_Q74_SQL = f"""
WITH RECURSIVE
mutants AS ({_MUTANTS_SQL}),
corpus AS (
  SELECT vec_id FROM embeddings UNION ALL SELECT vec_id FROM mutants),
pairs AS (
  SELECT m.vec_id AS a_id, o.vec_id AS b_id
  FROM mutants m CROSS JOIN embeddings o
  WHERE round(list_cosine_similarity(CAST(m.embedding AS DOUBLE[]),
                                     CAST(o.embedding AS DOUBLE[])), 4) >= 0.99),
edges AS (
  SELECT a_id AS eu, b_id AS ev FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs),
walk(node, comp) AS (
  SELECT DISTINCT eu, eu FROM edges
  UNION
  SELECT e.eu, w.comp FROM edges e JOIN walk w ON w.node = e.ev),
labels AS (SELECT node, min(comp) AS component FROM walk GROUP BY node)
SELECT c.vec_id,
       coalesce(l.component, c.vec_id) AS component,
       coalesce(l.component, c.vec_id) = c.vec_id AS is_canonical
FROM corpus c LEFT JOIN labels l ON l.node = c.vec_id
ORDER BY c.vec_id
"""


def q80_semantic_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q74's semantic dedup with the crossJoin pair stage replaced by
    the hyperplane-LSH candidate generator (``lsh_cosine_pairs``, md5
    family) — the scale path q74's docstring promises: candidates come
    from an equi-join on (table, bucket), so the plan contains no
    CartesianProduct/BroadcastNestedLoopJoin and pair cost scales with
    bucket occupancy, not |mutants| x |corpus|. The oracle replicates
    the bucket arithmetic bit-for-bit (the q45 construction), so the
    whole pipeline — buckets, candidate join, rounded-cosine verify,
    connected components — carries a full value-hash oracle."""
    from gov_data_pipeline_spark.operators.graph import dedup_clusters
    from gov_data_pipeline_spark.operators.similarity import lsh_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mutants = _mutant_embeddings(emb)
    dim = _emb_dim(spark, sf_dir)
    corpus = emb.unionByName(mutants)
    pairs = lsh_cosine_pairs(
        mutants, emb, "vec_id", "vec_id", "embedding", "embedding",
        threshold=0.99, bits=6, tables=6, hash_family="md5", dim=dim,
    )
    return (
        dedup_clusters(pairs.select("a_id", "b_id"), corpus.select("vec_id"), "vec_id")
        .select("vec_id", "component", "is_canonical")
        .orderBy("vec_id")
    )


# Bucket arithmetic identical to _Q45_SQL (36 planes = 6 tables x 6
# bits, ±1 from the low bit of md5's first hex char); candidates are
# mutant-vs-original bucket collisions, verified on the 4-decimal-
# rounded cosine, then q74's recursive connected-components walk.
_Q80_SQL = f"""
WITH RECURSIVE
mutants AS ({_MUTANTS_SQL}),
u AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM mutants),
ex AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS d,
         unnest(embedding) AS x
  FROM u),
dims AS (SELECT DISTINCT d FROM ex),
planes AS (
  SELECT dims.d, p.p AS p,
         CASE WHEN ('0x' || substr(md5(dims.d::VARCHAR || ',' || p.p::VARCHAR),
                                   1, 1))::INT & 1 = 1
              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sign
  FROM dims CROSS JOIN range(36) p(p)),
dots AS (
  SELECT e.vec_id, pl.p,
         sum(CAST(floor(e.x * 1000000 + 0.5) AS BIGINT) * pl.sign) AS dot
  FROM ex e JOIN planes pl ON pl.d = e.d
  GROUP BY e.vec_id, pl.p),
buckets AS (
  SELECT vec_id, (p // 6)::INT AS t,
         sum(CASE WHEN dot > 0 THEN (1::BIGINT << (p % 6)) ELSE 0 END)::BIGINT AS b
  FROM dots GROUP BY vec_id, (p // 6)::INT),
cand AS (
  -- membership JOINS, not an id-threshold: "mutant" means "row of the
  -- mutants CTE" — the old >= {_MUT_OFFSET} test misclassified the
  -- sf1.0 replica ids (>= 1e9), silently dropping true candidates
  -- (caught by the r13 full-registry sf1.0 sweep)
  SELECT DISTINCT q.vec_id AS a_id, c.vec_id AS b_id
  FROM buckets q
  JOIN mutants mq ON mq.vec_id = q.vec_id
  JOIN buckets c ON q.t = c.t AND q.b = c.b
  JOIN embeddings oc ON oc.vec_id = c.vec_id),
pairs AS (
  SELECT cand.a_id, cand.b_id
  FROM cand
  JOIN mutants m ON m.vec_id = cand.a_id
  JOIN embeddings o ON o.vec_id = cand.b_id
  WHERE round(list_cosine_similarity(CAST(m.embedding AS DOUBLE[]),
                                     CAST(o.embedding AS DOUBLE[])), 4) >= 0.99),
corpus AS (
  SELECT vec_id FROM embeddings UNION ALL SELECT vec_id FROM mutants),
edges AS (
  SELECT a_id AS eu, b_id AS ev FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs),
walk(node, comp) AS (
  SELECT DISTINCT eu, eu FROM edges
  UNION
  SELECT e.eu, w.comp FROM edges e JOIN walk w ON w.node = e.ev),
labels AS (SELECT node, min(comp) AS component FROM walk GROUP BY node)
SELECT c.vec_id,
       coalesce(l.component, c.vec_id) AS component,
       coalesce(l.component, c.vec_id) = c.vec_id AS is_canonical
FROM corpus c LEFT JOIN labels l ON l.node = c.vec_id
ORDER BY c.vec_id
"""


# ---------------------------------------------------------------------------
# Capstone composition — the full corpus-curation pipeline as one
# oracle-checked query: near-dup detection (MinHash-LSH, md5 family) ->
# duplicate clustering (connected components) -> keep canonical docs ->
# quality filter -> per-language stratified sample. Every stage is an
# operator verified on its own elsewhere; this pins the COMPOSITION.
# ---------------------------------------------------------------------------


def q75_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.operators.dedup import (
        minhash_doc_profile,
        shingle_rows,
        verify_candidates_hashset,
    )
    from gov_data_pipeline_spark.operators.graph import dedup_clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    mutants = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _MUT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq zz")).alias("text"),
        "lang",
    )
    corpus = docs.unionByName(mutants)

    # near-dup pairs (the q42 sketch pipeline, md5 family, fused
    # profile aggregate — see q42)
    ex = shingle_rows(corpus, "doc_id", F.col("text"), 3, widen=False, distinct=False)
    prof = minhash_doc_profile(ex, "doc_id", num_hashes=32, hash_family="md5")
    cands = lsh_candidate_pairs(prof, "doc_id", "sig", bands=8, rows_per_band=4, sig_len=32)
    pairs = verify_candidates_hashset(cands, prof, "doc_id", threshold=0.5)

    # cluster + keep one representative per duplicate group
    labeled = dedup_clusters(pairs.select("a_id", "b_id"), corpus, "doc_id")
    kept = labeled.filter(F.col("is_canonical"))

    # quality gate + deterministic per-language downsampling
    from gov_data_pipeline_spark.functions.sampling import hash_bucket_col

    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    bucket = hash_bucket_col(F.col("doc_id"))
    cut = F.when(F.col("lang") == "en", F.lit(128)).otherwise(F.lit(256))
    return (
        kept.withColumn("n_words", n_words)
        .filter(F.col("n_words") >= 10)
        .withColumn("hash_bucket", bucket)
        .filter(F.col("hash_bucket") < cut)
        .select("doc_id", "lang", "n_words", "hash_bucket")
        .orderBy("doc_id")
    )


_Q75_SQL = rf"""
WITH RECURSIVE
u AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + {_MUT_OFFSET} AS doc_id, text || ' qq zz' AS text, lang
  FROM documents WHERE doc_id % 5 = 0),
words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM u),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM words),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hs AS (
  SELECT doc_id, s,
         ('0x' || substr(md5(s), 1, 13))::BIGINT  AS h1,
         ('0x' || substr(md5(s), 14, 13))::BIGINT AS h2
  FROM ex),
sig AS (
  SELECT doc_id, i, min(h1 + i * h2) AS m
  FROM hs CROSS JOIN range(32) t(i)
  GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, (i // 4)::INT AS band,
         string_agg(m::VARCHAR, ',' ORDER BY i) AS bucket
  FROM sig GROUP BY doc_id, (i // 4)::INT),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
  SELECT c.a_id, c.b_id, count(*) AS inter
  FROM cand c
  JOIN ex a ON a.doc_id = c.a_id
  JOIN ex b ON b.doc_id = c.b_id AND b.s = a.s
  GROUP BY 1, 2),
pairs AS (
  SELECT i.a_id, i.b_id
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.a_id
  JOIN sizes sb ON sb.doc_id = i.b_id
  WHERE i.inter / (sa.n + sb.n - i.inter) >= 0.5),
edges AS (
  SELECT a_id AS eu, b_id AS ev FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs),
walk(node, comp) AS (
  SELECT DISTINCT eu, eu FROM edges
  UNION
  SELECT e.eu, w.comp FROM edges e JOIN walk w ON w.node = e.ev),
labels AS (SELECT node, min(comp) AS component FROM walk GROUP BY node),
kept AS (
  SELECT u.doc_id, u.text, u.lang
  FROM u LEFT JOIN labels l ON l.node = u.doc_id
  WHERE coalesce(l.component, u.doc_id) = u.doc_id),
gated AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\s+')) AS n_words,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT AS hash_bucket
  FROM kept)
SELECT doc_id, lang, n_words, hash_bucket
FROM gated
WHERE n_words >= 10
  AND hash_bucket < CASE WHEN lang = 'en' THEN 128 ELSE 256 END
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Entity resolution — blocked fuzzy join (edit distance <= 2 with
# prefix + length-band blocking). Typos are planted deterministically:
# every 10th customer name gets its last character doubled and (every
# 20th) a vowel appended, so both engines build identical dirty data.
# ---------------------------------------------------------------------------


def q77_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity names are md5-derived hex strings (fixture c_name values
    share a 17-char literal prefix, which would defeat any prefix
    blocker — real names don't look like that); the dirty side doubles
    the last character and every other dirty row appends one more.
    Blocking on a 4-hex prefix spreads the block space ~65k ways, so
    the candidate join is near-linear and the exact levenshtein verify
    touches only same-block pairs."""
    from gov_data_pipeline_spark.operators.dedup import fuzzy_join_blocked

    base = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.md5(F.col("c_custkey").cast("string")).alias("name")
    )
    dirty = base.filter(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + _MUT_OFFSET).alias("c_custkey"),
        F.concat(
            F.col("name"),
            F.substring(F.col("name"), -1, 1),
            F.when(F.col("c_custkey") % 20 == 0, F.lit("z")).otherwise(F.lit("")),
        ).alias("name"),
    )
    return fuzzy_join_blocked(
        dirty, base, "c_custkey", "c_custkey",
        F.col("name"), F.col("name"),
        max_distance=2, prefix_len=4,
    ).orderBy("a_id", "b_id")


_Q77_SQL = f"""
WITH base AS (
  SELECT c_custkey, md5(CAST(c_custkey AS VARCHAR)) AS name FROM customer),
dirty AS (
  SELECT c_custkey + {_MUT_OFFSET} AS c_custkey,
         name || substr(name, -1, 1) ||
           CASE WHEN c_custkey % 20 = 0 THEN 'z' ELSE '' END AS name
  FROM base WHERE c_custkey % 10 = 0)
SELECT d.c_custkey AS a_id, b.c_custkey AS b_id,
       levenshtein(d.name, b.name) AS distance
FROM dirty d
JOIN base b
  ON substr(d.name, 1, 4) = substr(b.name, 1, 4)
 AND abs(length(d.name) - length(b.name)) <= 2
WHERE levenshtein(d.name, b.name) <= 2
ORDER BY a_id, b_id
"""


# ---------------------------------------------------------------------------
# q181 — SemDeDup (Abbas et al. 2023): embedding-space near-dedup with
# a CLUSTERING partitioner — the third candidate-generator tier next
# to q74 (brute ground truth) and q80 (hyperplane LSH). Vectors
# partition into k cells by nearest deterministic seed (smallest
# (md5(id), id) — the q113 seeding convention; the full Lloyd trainer
# is q113's pinned machinery, deliberately not repeated here because
# SemDeDup uses clustering only as a partitioner), pairs are
# enumerated WITHIN cells only via an equi-join on the cell id, and
# near-identical groups (rounded cosine >= 0.99) collapse to their
# minimum id via connected components. At 100 TB k scales with the
# corpus (k ≈ N / target-cell-size) so cell occupancy — and therefore
# per-cell pair cost — stays bounded; the plan never contains a
# corpus×corpus product, only the k-row seed broadcast and the
# cell-keyed self-join.
#
# Determinism: squared distances fold left-to-right over the same
# doubles in both engines (zip_with+aggregate ⟷ list_transform+
# list_sum), rounded to 4 before the argmin with cid as tiebreak;
# cosine verification rounds HALF_UP before thresholding (the q56
# GEMM convention — the exact-expression tier is q74's).
# ---------------------------------------------------------------------------

_Q181_K_MIN = 8
_Q181_CELL = 256  # target cell occupancy: k = max(K_MIN, n // CELL)


def q181_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.operators.graph import dedup_clusters
    from gov_data_pipeline_spark.operators.similarity import (
        cell_cosine_pairs_gemm,
        semdedup_cells,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = (
        emb.unionByName(_mutant_embeddings(emb))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )

    # Materialize the assignment ONCE: three consumers read it (both
    # GEMM inputs + the final label join), and each would otherwise
    # re-run the seed broadcast, distance projection and per-vector
    # argmin window from the scan — the q42/q163 persist-across-
    # consumers convention (measured here: 25 s -> ~8 s at sf0.1).
    # _pin_one_live (not localCheckpoint): explicit eviction of the
    # previous invocation's blocks instead of GC-driven cleanup.
    cells = _pin_one_live(
        "q181_cells",
        semdedup_cells(
            corpus, "vec_id", "embedding",
            cell_target=_Q181_CELL, k_min=_Q181_K_MIN,
        ),
    )

    pairs = cell_cosine_pairs_gemm(
        cells, "vec_id", "cell", "embedding", threshold=0.99
    )
    return (
        dedup_clusters(pairs, corpus.select("vec_id"), "vec_id")
        .join(cells.select("vec_id", "cell"), "vec_id")
        .select("vec_id", "cell", "component", "is_canonical")
        .orderBy("vec_id")
    )


_Q181_SQL = f"""
WITH RECURSIVE
mutants AS ({_MUTANTS_SQL}),
u AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM mutants),
seeds AS (
  SELECT cid, c FROM (
    SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS cid,
           embedding AS c
    FROM u)
  CROSS JOIN (SELECT greatest({_Q181_K_MIN}, count(*) // {_Q181_CELL}) AS k
              FROM u)
  WHERE cid <= k),
dist AS (
  SELECT u.vec_id, s.cid,
         round(list_sum(list_transform(range(1, len(u.embedding) + 1),
               i -> (u.embedding[i] - s.c[i]) * (u.embedding[i] - s.c[i]))),
               4) AS d2
  FROM u CROSS JOIN seeds s),
cells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM dist) WHERE rn = 1),
pairs AS (
  SELECT ca.vec_id AS a_id, cb.vec_id AS b_id
  FROM cells ca
  JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
  JOIN u a ON a.vec_id = ca.vec_id
  JOIN u b ON b.vec_id = cb.vec_id
  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.99),
edges AS (
  SELECT a_id AS eu, b_id AS ev FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs),
walk(node, comp) AS (
  SELECT DISTINCT eu, eu FROM edges
  UNION
  SELECT e.eu, w.comp FROM edges e JOIN walk w ON w.node = e.ev),
labels AS (SELECT node, min(comp) AS component FROM walk GROUP BY node)
SELECT c.vec_id, c.cell,
       coalesce(l.component, c.vec_id) AS component,
       coalesce(l.component, c.vec_id) = c.vec_id AS is_canonical
FROM cells c LEFT JOIN labels l ON l.node = c.vec_id
ORDER BY c.vec_id
"""


# ---------------------------------------------------------------------------
# q182 — per-document contamination FRACTION against a benchmark set:
# q87/q154 answer "does this document contain any benchmark 13-gram"
# (a gate); evaluation-decontamination audits also need the graded
# signal — what fraction of a document's distinct 5-word shingles
# appear anywhere in the benchmark (the overlap score used to tier
# 'clean / partial / contaminated' and to debug WHY a gate fired).
# Benchmark = every 17th document (the q138 convention); benchmark
# members themselves score 1.0 by construction, which pins the scale.
#
# Shape at scale: distinct (doc, shingle) rows reduce once; the
# benchmark shingle set is ≪ corpus and reaches the probe as the
# small side of a gram-keyed equi-join (AQE broadcasts it); the
# per-doc reduce is one doc_id aggregate. A production run hashes the
# gram key — the fixture keeps raw strings so the oracle is readable.
# ---------------------------------------------------------------------------


def q182_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.operators.dedup import shingle_rows

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_rows(docs, "doc_id", F.col("text"), 5, widen=False)
    bench = (
        sh.filter(F.col("doc_id") % 17 == 0)
        .select(F.col("s").alias("__bs"))
        .distinct()
    )
    frac = F.round(
        F.col("n_hit").cast("double") / F.col("n_shingles"), 4
    )
    return (
        sh.join(bench, sh.s == F.col("__bs"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__bs").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hit",
            frac.alias("contaminated_frac"),
            (frac >= 0.5).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


_Q182_SQL = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 5
           THEN list_transform(range(1, len(ws) - 3),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                     || ws[i+3] || ' ' || ws[i+4])
           ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM words),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
bench AS (SELECT DISTINCT s FROM ex WHERE doc_id % 17 = 0),
agg AS (
  SELECT e.doc_id, count(*) AS n_shingles, count(b.s) AS n_hit
  FROM ex e LEFT JOIN bench b ON b.s = e.s
  GROUP BY e.doc_id)
SELECT doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_hit AS BIGINT) AS n_hit,
       round(CAST(n_hit AS DOUBLE) / n_shingles, 4) AS contaminated_frac,
       round(CAST(n_hit AS DOUBLE) / n_shingles, 4) >= 0.5 AS contaminated
FROM agg
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q183 — Gopher duplicate-LINE repetition signals (Rae et al. 2021):
# within ONE document, the fraction of line occurrences that are
# repeats of an earlier identical line, and the fraction of characters
# those repeats account for — the line-level siblings of q88's
# duplicate-3-gram ratio and q172's top-n-gram dominance. The fixture
# is single-line, so the query derives a deterministic multi-line
# corpus in-query (the q178 construction, with a planted WITHIN-doc
# repeat on every 4th document): for distinct line L with c
# occurrences of length len, repeats contribute (c-1) lines and
# (c-1)*len characters.
#
# Shape at scale: posexplode → ONE (doc, line) count aggregate → ONE
# per-doc reduce. Line identity never leaves its document, so unlike
# q178 there is no cross-document vocabulary at all — both aggregates
# key on doc_id and map-side-combine.
# ---------------------------------------------------------------------------


def q183_dup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    assembled = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("begin "), F.col("source")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit("begin "), F.col("source")),
            ),
            F.lit("end of document"),
        ).alias("t"),
    )
    per_line = (
        assembled.select(
            "doc_id", F.explode(F.split(F.col("t"), "\n")).alias("line")
        )
        .groupBy("doc_id", "line")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("len", F.length("line"))
    )
    return (
        per_line.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_lines"),
            F.sum(F.col("c") - 1).alias("n_dup_lines"),
            F.round(
                F.sum(F.col("c") - 1) / F.sum("c"), 4
            ).alias("dup_line_frac"),
            F.round(
                F.try_divide(
                    F.sum((F.col("c") - 1) * F.col("len")),
                    F.sum(F.col("c") * F.col("len")),
                ),
                4,
            ).alias("dup_char_frac"),
        )
        .orderBy("doc_id")
    )


_Q183_SQL = """
WITH assembled AS (
  SELECT doc_id,
         concat_ws(chr(10),
           'begin ' || source,
           text,
           CASE WHEN doc_id % 4 = 0 THEN 'begin ' || source END,
           'end of document') AS t
  FROM documents),
per_line AS (
  SELECT doc_id, line, count(*) AS c, length(line) AS len
  FROM (SELECT doc_id, unnest(string_split(t, chr(10))) AS line
        FROM assembled)
  GROUP BY doc_id, line)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_lines,
       CAST(sum(c - 1) AS BIGINT) AS n_dup_lines,
       round(sum(c - 1) / sum(c), 4) AS dup_line_frac,
       round(sum((c - 1) * len) / nullif(sum(c * len), 0), 4)
         AS dup_char_frac
FROM per_line
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q186 — ANN RECALL report: per query, how much of the exact cosine
# top-5 (q44's brute tier) the hyperplane-LSH tier (q45, md5 family,
# 6 tables × 6 bits) actually recovers — recall@5 as a first-class,
# oracle-checked measurement instead of a one-off test assertion. The
# approximate operators are registered as scale paths on the strength
# of their recall; this query is the artifact that keeps that claim
# measured on every corpus the engine runs against ("the sketch
# tier's recall is permanently measured against the exact tier" —
# here as data, not only as a pinned test).
#
# Determinism: both top-5 sets rank on the ROUNDED cosine with
# neighbor-id tiebreaks (the q44/q45 convention), so the intersection
# count is exact in both engines. Shape at scale: the exact arm is the
# documented brute baseline (20-query side — broadcast regime); the
# LSH arm is bucket-keyed; the recall join is over two k×|queries|-row
# frames — driver-scale data, executor-side plan.
# ---------------------------------------------------------------------------


def q186_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding", k=5
    ).select("vec_id", "neighbor_id")
    ann = ann_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding",
        k=5, bits=6, tables=6, hash_family="md5", probe_flips=0,
    ).select(
        F.col("vec_id").alias("__avid"), F.col("neighbor_id").alias("__anid")
    )
    return (
        exact.join(
            ann,
            (exact.vec_id == F.col("__avid"))
            & (exact.neighbor_id == F.col("__anid")),
            "left",
        )
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.count("__anid").alias("n_hit"),
            F.round(
                F.count("__anid").cast("double") / F.count(F.lit(1)), 4
            ).alias("recall"),
        )
        .orderBy("vec_id")
    )


_Q186_SQL = """
WITH exact_scored AS (
  SELECT q.vec_id,
         c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 4)
           AS cosine_sim
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20),
exact_top AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS rk
    FROM exact_scored) WHERE rk <= 5),
ex AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
dims AS (SELECT DISTINCT d FROM ex),
planes AS (
  SELECT dims.d, p.p AS p,
         CASE WHEN ('0x' || substr(md5(dims.d::VARCHAR || ',' || p.p::VARCHAR),
                                   1, 1))::INT & 1 = 1
              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sign
  FROM dims CROSS JOIN range(36) p(p)),
dots AS (
  SELECT e.vec_id, pl.p,
         sum(CAST(floor(e.x * 1000000 + 0.5) AS BIGINT) * pl.sign) AS dot
  FROM ex e JOIN planes pl ON pl.d = e.d
  GROUP BY e.vec_id, pl.p),
buckets AS (
  SELECT vec_id, (p // 6)::INT AS t,
         sum(CASE WHEN dot > 0 THEN (1::BIGINT << (p % 6)) ELSE 0 END)::BIGINT
           AS b
  FROM dots GROUP BY vec_id, (p // 6)::INT),
cand AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
  FROM buckets q
  JOIN buckets c ON q.t = c.t AND q.b = c.b
  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
ann_scored AS (
  SELECT cand.qid AS vec_id, cand.nid AS neighbor_id,
         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ce.embedding AS DOUBLE[])), 4)
           AS cosine_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.qid
  JOIN embeddings ce ON ce.vec_id = cand.nid),
ann_top AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS rk
    FROM ann_scored) WHERE rk <= 5)
SELECT e.vec_id,
       count(*) AS k,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
       round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 4) AS recall
FROM exact_top e
LEFT JOIN ann_top a
  ON a.vec_id = e.vec_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.vec_id
ORDER BY e.vec_id
"""


# ---------------------------------------------------------------------------
# q190 — MULTI-PROBE ANN recall/cost report: q186 measured the plain
# hyperplane-LSH tier at recall@5 ≈ 0.3-0.6 (r10 verdict item #2) — a
# user reaching for ann_topk got a tier that misses half the true
# neighbors. The fix is multi-probe (Lv et al., VLDB 2007): per table,
# also probe every bucket at Hamming distance 1 (probe_flips=bits), so
# a neighbor lost to one wrong side of one hyperplane is recovered
# WITHOUT re-hashing the corpus — the corpus side keeps one (t, b) row
# per table per vector; only the 20-query side fans out ×7. This query
# is the permanent instrument for that claim: per query, candidate
# count and recall@5 for BOTH tiers side by side, so the recall gain
# (measured 0.40 → 0.89 at sf0.1) and its candidate-cost multiplier
# (5.0× — 20,799 vs 4,159 pairs, still ~6× under the 20×6,000
# brute-force pair count at this fixture, a margin that widens with
# corpus size) stay measured on every corpus rather than asserted once.
#
# Determinism: identical md5 sign-table bucket arithmetic to q186's
# oracle; a radius-1 probe pair is `xor(q.b, c.b) IN (0,1,2,4,8,16,32)`
# in both engines; ranking on ROUNDED cosine with neighbor-id
# tiebreaks. Shape at scale: bucket equi-join candidates (query side
# ×(1+bits), corpus side unchanged), id-only candidate aggregate, then
# one vector lookup join per side — vectors never ride the candidate
# dedup shuffle.
# ---------------------------------------------------------------------------


_Q190_N_QUERIES = 20


def q190_ann_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Window as W

    from gov_data_pipeline_spark.operators.similarity import (
        _norm,
        _pair_cosine,
        _with_lsh_buckets,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # ONE query-set predicate (ADVICE r13): the same constant drives
    # both the exact arm's query vectors and the bucket relation's
    # query-side filter below, so the two arms can never silently
    # diverge if the query-set definition changes.
    queries = emb.filter(F.col("vec_id") < _Q190_N_QUERIES)
    # ONE cosine pass scores BOTH arms (r13): the exact arm needs every
    # (query, corpus) pair anyway, and the candidate pairs are a subset
    # of those — so the 20-query broadcast cross join is scored ONCE
    # (identical expression to cosine_topk: precomputed norms, round-4,
    # NULL-dropped), pinned, and the exact top-5 AND the candidate
    # scores both derive from it. Before, the candidate arm re-joined
    # vectors onto the deduped pairs and re-computed ~20k pair cosines
    # the exact arm had already paid for.
    qv = queries.select(
        F.col("vec_id").alias("__qid"),
        F.col("embedding").alias("__qv"),
        _norm(F.col("embedding")).alias("__qn"),
    )
    cv = emb.select(
        F.col("vec_id").alias("__cid"),
        F.col("embedding").alias("__cv"),
        _norm(F.col("embedding")).alias("__cn"),
    )

    bits, tables = 6, 6
    # dim passed (r13): _with_lsh_buckets builds its (dim -> signs)
    # broadcast table from range(dim) instead of distinct-scanning the
    # exploded (rows x dims) relation — one less aggregate per side.
    dim = _emb_dim(spark, sf_dir)

    def _build_scored() -> DataFrame:
        # Job descriptions are thread-local (guide §1.5/§2.6): set one
        # per thread body so the two overlapped pin jobs stay
        # attributable in the UI.
        spark.sparkContext.setJobDescription("q190: pin scored_all")
        # CO-PARTITIONED by __qid (r14, guide §2.4): the exact arm's
        # ranking window, the pairs⋈scored_all score join, and the
        # hits join downstream are all __qid-keyed — capturing
        # hash(__qid) here deletes every one of their exchanges from
        # the final DAG (the window needed this exchange anyway; it
        # just runs once, at pin time).
        return pin_partitioned(
            cv.crossJoin(F.broadcast(qv))
            .filter(F.col("__qid") != F.col("__cid"))
            .select(
                "__qid",
                "__cid",
                F.round(
                    _pair_cosine(
                        F.col("__qv"),
                        F.col("__cv"),
                        F.col("__qn"),
                        F.col("__cn"),
                    ),
                    4,
                ).alias("__sim"),
            )
            .filter(F.col("__sim").isNotNull()),
            "__qid",
        )

    def _build_buckets() -> DataFrame:
        # ONE bucket relation for both sides (r13 second pass): the
        # query set is a filter of the corpus and a vector's (t, b)
        # bucket is a pure per-row function, so the corpus bucket rows
        # ARE the query bucket rows for vec_id < 20 — bucketing the
        # 20-row query side separately re-ran the whole explode +
        # sign-join + 36-sum-aggregate subtree a second time. Pinned:
        # it feeds the corpus join side AND the probe fan-out.
        spark.sparkContext.setJobDescription("q190: pin buckets")
        # Plain pin, NO (__t, __b) co-partitioning (r14, measured): the
        # candidate join's probe side is broadcast (below), so the
        # bucket side never shuffles anyway — a layout pin here would
        # just add a 6x-corpus-row exchange at construction for
        # nothing (probed +0.1-0.4 s at sf0.1).
        return _with_lsh_buckets(
            emb, "vec_id", "embedding", "__cid", "__cv", bits, tables,
            "md5", dim=dim,
        ).select("__cid", "__t", "__b").localCheckpoint()

    # The two pins are independent jobs — overlap them (guide §2.6) so
    # construction wall-clock is max(), not sum(), of the two.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_scored = pool.submit(_build_scored)
        f_buckets = pool.submit(_build_buckets)
        scored_all = f_scored.result()
        cb = f_buckets.result()
    spark.sparkContext.setJobDescription(None)

    we = W.partitionBy("__qid").orderBy(
        F.col("__sim").desc(), F.col("__cid").asc()
    )
    exact = (
        scored_all.withColumn("__erk", F.row_number().over(we))
        .filter(F.col("__erk") <= 5)
        .select(F.col("__qid").alias("vec_id"), F.col("__cid").alias("__enid"))
    )

    qb = cb.filter(F.col("__cid") < _Q190_N_QUERIES).select(
        F.col("__cid").alias("__qid"), "__t", "__b"
    )
    masks = [0] + [1 << i for i in range(bits)]
    probes = qb.select(
        "__qid",
        "__t",
        F.explode(
            F.array(*[
                F.struct(
                    F.col("__b").bitwiseXOR(F.lit(m).cast("long")).alias("b"),
                    F.lit(int(m == 0)).alias("plain"),
                )
                for m in masks
            ])
        ).alias("__p"),
    ).select(
        "__qid", "__t",
        F.col("__p.b").alias("__b"), F.col("__p.plain").alias("__plain"),
    )
    # id-only candidate aggregate: the (qid, cid) dedup shuffle carries
    # two longs + a flag, never vectors. PINNED (r13): it feeds both
    # the score join and the per-query candidate counts — unpinned,
    # the bucket join + dedup shuffle re-ran once per consumer.
    # The probe fan-out is BROADCAST explicitly (r14): it is bounded by
    # construction at n_queries x tables x (1+bits) rows, and the pin
    # job runs with AQE off (see pin_partitioned) where the runtime
    # broadcast promotion that used to catch it cannot fire — without
    # the hint the static planner saw two unknown-size RDD sides and
    # fell back to a both-sides-exchanged sort-merge join (probed: the
    # whole q190 construction regressed ~0.6 s at sf0.1).
    # CO-PARTITIONED by __qid (r14): the repartition sits BEFORE the
    # dedup groupBy, whose (qid, cid) clustering hash(__qid) already
    # satisfies — ONE exchange serves both the aggregate and the
    # captured layout, and the score join, ranking window, and
    # candidate-count aggregate downstream all plan exchange-free
    # against scored_all's matching hash(__qid) pin.
    pairs = pin_partitioned(
        cb.join(F.broadcast(probes), ["__t", "__b"])
        .filter(F.col("__qid") != F.col("__cid"))
        .repartition(F.col("__qid"))
        .groupBy("__qid", "__cid")
        .agg(F.max("__plain").alias("__plain"))
    )
    # candidate scores come FROM the pinned scored_all (r13): an
    # id-keyed join against 3-column rows, no vector joins, no second
    # cosine evaluation. Inner join == the old isNotNull filter
    # (scored_all already dropped NULL sims).
    scored = pairs.join(scored_all, ["__qid", "__cid"]).select(
        "__qid", "__cid", "__plain", "__sim"
    )
    # ONE window pass ranks BOTH tiers (r13; was two windows + two
    # joins): same partitioning + ordering = one exchange + one sort,
    # with the overall row_number beside a running count of plain rows
    # — for a plain row that running count IS its rank among the plain
    # tier (order is shared). The exact arm then joins the flagged
    # candidates once and counts hits conditionally, instead of one
    # join per tier re-running the scored subtree each time
    # (6.23 s → 5.54 s best-of-5 at sf0.1).
    wp = W.partitionBy("__qid").orderBy(
        F.col("__sim").desc(), F.col("__cid").asc()
    )
    flagged = (
        scored.withColumn("__rk", F.row_number().over(wp))
        .withColumn(
            "__prk",
            F.sum("__plain").over(
                wp.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .select(
            "__qid",
            "__cid",
            (F.col("__rk") <= 5).alias("__in_probe"),
            ((F.col("__plain") == 1) & (F.col("__prk") <= 5)).alias(
                "__in_plain"
            ),
        )
    )
    cand_counts = pairs.groupBy("__qid").agg(
        F.count(F.lit(1)).alias("n_cand_probe"),
        F.sum("__plain").cast("bigint").alias("n_cand_plain"),
    )
    hits = (
        exact.join(
            flagged,
            (exact.vec_id == F.col("__qid"))
            & (F.col("__enid") == F.col("__cid")),
            "left",
        )
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.when(F.col("__in_plain"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit_plain"),
            F.sum(F.when(F.col("__in_probe"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit_probe"),
        )
    )
    return (
        hits.join(
            cand_counts, hits.vec_id == cand_counts.__qid
        )
        .select(
            "vec_id",
            "k",
            "n_cand_plain",
            "n_cand_probe",
            "n_hit_plain",
            "n_hit_probe",
            F.round(
                F.col("n_hit_plain").cast("double") / F.col("k"), 4
            ).alias("recall_plain"),
            F.round(
                F.col("n_hit_probe").cast("double") / F.col("k"), 4
            ).alias("recall_probe"),
        )
        .orderBy("vec_id")
    )


_Q190_SQL = """
WITH ex AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
dims AS (SELECT DISTINCT d FROM ex),
planes AS (
  SELECT dims.d, p.p AS p,
         CASE WHEN ('0x' || substr(md5(dims.d::VARCHAR || ',' || p.p::VARCHAR),
                                   1, 1))::INT & 1 = 1
              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sign
  FROM dims CROSS JOIN range(36) p(p)),
dots AS (
  SELECT e.vec_id, pl.p,
         sum(CAST(floor(e.x * 1000000 + 0.5) AS BIGINT) * pl.sign) AS dot
  FROM ex e JOIN planes pl ON pl.d = e.d
  GROUP BY e.vec_id, pl.p),
buckets AS (
  SELECT vec_id, (p // 6)::INT AS t,
         sum(CASE WHEN dot > 0 THEN (1::BIGINT << (p % 6)) ELSE 0 END)::BIGINT
           AS b
  FROM dots GROUP BY vec_id, (p // 6)::INT),
cand AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         max(CASE WHEN q.b = c.b THEN 1 ELSE 0 END) AS is_plain
  FROM buckets q
  JOIN buckets c ON q.t = c.t AND xor(q.b, c.b) IN (0, 1, 2, 4, 8, 16, 32)
  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id),
scored AS (
  SELECT cand.qid, cand.cid, cand.is_plain,
         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ce.embedding AS DOUBLE[])), 4)
           AS sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.qid
  JOIN embeddings ce ON ce.vec_id = cand.cid),
probe_top AS (
  SELECT qid, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY sim DESC, cid) AS rk
    FROM scored) WHERE rk <= 5),
plain_top AS (
  SELECT qid, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY sim DESC, cid) AS rk
    FROM scored WHERE is_plain = 1) WHERE rk <= 5),
exact_scored AS (
  SELECT q.vec_id,
         c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 4)
           AS cosine_sim
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20),
exact_top AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS rk
    FROM exact_scored) WHERE rk <= 5),
counts AS (
  SELECT qid, CAST(count(*) AS BIGINT) AS n_cand_probe,
         CAST(sum(is_plain) AS BIGINT) AS n_cand_plain
  FROM cand GROUP BY qid),
hits AS (
  SELECT e.vec_id,
         count(*) AS k,
         count(pl.cid) AS n_hit_plain,
         count(p.cid) AS n_hit_probe
  FROM exact_top e
  LEFT JOIN probe_top p ON p.qid = e.vec_id AND p.cid = e.neighbor_id
  LEFT JOIN plain_top pl ON pl.qid = e.vec_id AND pl.cid = e.neighbor_id
  GROUP BY e.vec_id)
SELECT h.vec_id,
       CAST(h.k AS BIGINT) AS k,
       c.n_cand_plain,
       c.n_cand_probe,
       CAST(h.n_hit_plain AS BIGINT) AS n_hit_plain,
       CAST(h.n_hit_probe AS BIGINT) AS n_hit_probe,
       round(CAST(h.n_hit_plain AS DOUBLE) / h.k, 4) AS recall_plain,
       round(CAST(h.n_hit_probe AS DOUBLE) / h.k, 4) AS recall_probe
FROM hits h
JOIN counts c ON c.qid = h.vec_id
ORDER BY h.vec_id
"""


# ---------------------------------------------------------------------------
# q187 — MinHash CALIBRATION report: q186's companion for the Jaccard
# sketch tier. For every banded-LSH candidate pair (q42's generator,
# md5 family), report the signature-agreement ESTIMATE (mean of 32
# slot equalities — the textbook MinHash estimator), the exact Jaccard
# from the shingle-hash sets, and their absolute error.
#
# What the report SHOWS on this signature family — and why it exists:
# the one-pass `min(h1 + i·h2)` slots share two degrees of freedom
# (h1, h2), so they are far from independent permutations, and the
# agreement-rate estimator overshoots badly on low-overlap pairs
# (measured mean abs error ≈0.6 at sf0.1, est ≈0.75 where true ≈0.01).
# That measured fact is exactly why the q42 pipeline treats the
# signature ONLY as a candidate generator and verifies every candidate
# with EXACT set Jaccard before thresholding — this query keeps the
# justification for that design decision measured on every corpus
# instead of asserted once. (A production tier wanting a usable
# estimate pays for independent per-slot hashes: xxhash64(i, s) — the
# `hash_family="xxhash64"` profile — at the cost of the oracle.)
#
# Exactness: the estimate is an integer agreement count / 32.0 (exact
# in binary), the true Jaccard is one int/int division — identical
# doubles in both engines, so even abs(est − true) is bit-exact before
# its round(4). Shape at scale: q42's profile shape (ONE shingle-scan
# aggregate; the profile — one bounded row per doc — is materialized
# once for its three consumers), band equi-join candidates, two
# profile lookups per pair. Nothing is quadratic.
# ---------------------------------------------------------------------------


def q187_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.operators.dedup import (
        minhash_doc_profile,
        shingle_rows,
    )

    corpus = _docs_with_dups(spark, sf_dir)
    ex = shingle_rows(
        corpus, "doc_id", F.col("text"), 3, widen=False, distinct=False
    )
    prof = _pin_one_live(
        "q187_profile",
        minhash_doc_profile(ex, "doc_id", num_hashes=32, hash_family="md5"),
    )
    cands = lsh_candidate_pairs(
        prof, "doc_id", "sig", bands=8, rows_per_band=4, sig_len=32
    )
    pa = prof.select(
        F.col("doc_id").alias("a_id"),
        F.col("sig").alias("__sa"),
        F.col("hset").alias("__ha"),
        F.col("n").alias("__na"),
    )
    pb = prof.select(
        F.col("doc_id").alias("b_id"),
        F.col("sig").alias("__sb"),
        F.col("hset").alias("__hb"),
        F.col("n").alias("__nb"),
    )
    agree = F.aggregate(
        F.zip_with("__sa", "__sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    inter = F.size(F.array_intersect("__ha", "__hb"))
    true_j = inter / (F.col("__na") + F.col("__nb") - inter)
    est = agree / F.lit(32.0)
    # abs_err derives from the ROUNDED columns, not the raw doubles:
    # est is an exact k/32, so (est - true) lands ON .00005 boundaries,
    # where Spark's round (BigDecimal of the double's shortest decimal
    # rendering) and DuckDB's (multiply-round-divide on the binary
    # value) can disagree by 1e-4 — caught by the adversarial-Unicode
    # sweep. Differences of two 4-decimal values are never within an
    # ulp of a half boundary, so this form is engine-exact.
    return (
        cands.join(pa, "a_id")
        .join(pb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(est, 4).alias("est_jaccard"),
            F.round(true_j, 4).alias("true_jaccard"),
        )
        .withColumn(
            "abs_err",
            F.round(F.abs(F.col("est_jaccard") - F.col("true_jaccard")), 4),
        )
        .orderBy("a_id", "b_id")
    )


_Q187_SQL = rf"""
WITH u AS ({_DOCS_DUPS_SQL}),
words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM u),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM words),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hs AS (
  SELECT doc_id, s,
         ('0x' || substr(md5(s), 1, 13))::BIGINT  AS h1,
         ('0x' || substr(md5(s), 14, 13))::BIGINT AS h2
  FROM ex),
sig AS (
  SELECT doc_id, i, min(h1 + i * h2) AS m
  FROM hs CROSS JOIN range(32) t(i)
  GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, (i // 4)::INT AS band,
         string_agg(m::VARCHAR, ',' ORDER BY i) AS bucket
  FROM sig GROUP BY doc_id, (i // 4)::INT),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
agree AS (
  SELECT c.a_id, c.b_id,
         sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0 AS est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.a_id
  JOIN sig sb ON sb.doc_id = c.b_id AND sb.i = sa.i
  GROUP BY 1, 2),
inter AS (
  SELECT c.a_id, c.b_id, count(*) AS inter
  FROM cand c
  JOIN ex a ON a.doc_id = c.a_id
  JOIN ex b ON b.doc_id = c.b_id AND b.s = a.s
  GROUP BY 1, 2)
SELECT a_id, b_id, est_jaccard, true_jaccard,
       round(abs(est_jaccard - true_jaccard), 4) AS abs_err
FROM (
  SELECT g.a_id, g.b_id,
         round(g.est, 4) AS est_jaccard,
         round(coalesce(i.inter, 0)
               / (sa.n + sb.n - coalesce(i.inter, 0)), 4) AS true_jaccard
  FROM agree g
  LEFT JOIN inter i ON i.a_id = g.a_id AND i.b_id = g.b_id
  JOIN sizes sa ON sa.doc_id = g.a_id
  JOIN sizes sb ON sb.doc_id = g.b_id)
ORDER BY a_id, b_id
"""


# ---------------------------------------------------------------------------
# q188 — IVF RECALL report: q186's twin for the inverted-file tier
# (q55: 16 deterministic centroids, n_probe=3). With q186 (hyperplane
# LSH) and q187 (MinHash calibration) this closes the set: every
# approximate tier in the engine carries a first-class, oracle-checked
# quality measurement. IVF with 3-of-16 probes searches ~19% of the
# corpus, so its recall@5 reads meaningfully higher than the 6×6-bit
# LSH tier on the same fixture — the comparison a capacity-planning
# decision actually needs.
# ---------------------------------------------------------------------------


def q188_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding", k=5
    ).select("vec_id", "neighbor_id")
    ivf = ivf_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding",
        k=5, n_centroids=16, n_probe=3,
    ).select(
        F.col("vec_id").alias("__ivid"), F.col("neighbor_id").alias("__inid")
    )
    return (
        exact.join(
            ivf,
            (exact.vec_id == F.col("__ivid"))
            & (exact.neighbor_id == F.col("__inid")),
            "left",
        )
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.count("__inid").alias("n_hit"),
            F.round(
                F.count("__inid").cast("double") / F.count(F.lit(1)), 4
            ).alias("recall"),
        )
        .orderBy("vec_id")
    )


_Q188_SQL = """
WITH exact_scored AS (
  SELECT q.vec_id,
         c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 4)
           AS cosine_sim
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20),
exact_top AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS rk
    FROM exact_scored) WHERE rk <= 5),
cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings ORDER BY vec_id LIMIT 16),
q_assign AS (
  SELECT e.vec_id AS qid, c.cid,
         list_inner_product(c.cv, c.cv)
           - 2 * list_inner_product(CAST(e.embedding AS DOUBLE[]), c.cv)
           AS dist
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id < 20),
q_cells AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid
                              ORDER BY dist ASC, cid ASC) AS rn
    FROM q_assign)
  WHERE rn <= 3),
c_assign AS (
  SELECT e.vec_id AS nid, c.cid,
         list_inner_product(c.cv, c.cv)
           - 2 * list_inner_product(CAST(e.embedding AS DOUBLE[]), c.cv)
           AS dist
  FROM embeddings e CROSS JOIN cents c),
c_cells AS (
  SELECT nid, cid FROM (
    SELECT nid, cid,
           row_number() OVER (PARTITION BY nid
                              ORDER BY dist ASC, cid ASC) AS rn
    FROM c_assign)
  WHERE rn = 1),
cand AS (
  SELECT DISTINCT q.qid, c.nid
  FROM q_cells q JOIN c_cells c ON q.cid = c.cid
  WHERE q.qid <> c.nid),
ivf_scored AS (
  SELECT cand.qid AS vec_id, cand.nid AS neighbor_id,
         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ce.embedding AS DOUBLE[])), 4)
           AS cosine_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.qid
  JOIN embeddings ce ON ce.vec_id = cand.nid),
ivf_top AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS rk
    FROM ivf_scored) WHERE rk <= 5)
SELECT e.vec_id,
       count(*) AS k,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
       round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 4) AS recall
FROM exact_top e
LEFT JOIN ivf_top a
  ON a.vec_id = e.vec_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.vec_id
ORDER BY e.vec_id
"""


# ---------------------------------------------------------------------------
# q197 — IVF n_probe SWEEP (r12, verdict item #4): q188 measured one
# operating point (n_probe=3) and stopped; this report runs the whole
# recall-vs-cost frontier — n_probe in {1,2,4,8} over the same 16-cell
# coarse quantizer — and emits, per n_probe, aggregate recall@5
# against the exact top-k AND the candidate count the probe paid for
# it. The q190 convention for ANN evidence: recall is an ORACLED
# REPORT, not a claim, and the measured knee is what justifies
# ivf_topk's default (operators/similarity.py — n_probe=4). The cell
# assignment runs ONCE at the widest probe depth (rn <= 8) and each
# sweep point filters it (rn <= n_probe): one coarse-quantization pass
# serves all four operating points, on both engines.
# ---------------------------------------------------------------------------

_Q197_PROBES = (1, 2, 4, 8)


def q197_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from gov_data_pipeline_spark.operators.similarity import (
        _norm,
        _pair_cosine,
        ivf_cell_assign,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding", k=5
    ).select(F.col("vec_id").alias("__eqid"), F.col("neighbor_id").alias("__enid"))

    # ONE assignment at the widest probe depth, carrying the probe
    # rank (q_rn); every sweep point below is a prefix filter of it —
    # the oracle's cand_scored CTE mirrors this exactly
    q_cells, c_cells = ivf_cell_assign(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding",
        n_centroids=16, n_probe=max(_Q197_PROBES), with_rank=True,
    )
    qv = queries.select(
        F.col("vec_id").alias("__qid"),
        F.col("embedding").alias("__qv"),
        _norm(F.col("embedding")).alias("__qn"),
    )
    cv = emb.select(
        F.col("vec_id").alias("__cid"),
        F.col("embedding").alias("__cv"),
        _norm(F.col("embedding")).alias("__cn"),
    )
    # score every widest-depth candidate ONCE; each operating point
    # reuses the scored relation through its q_rn prefix
    all_scored = (
        q_cells.join(c_cells, "cid")
        .filter(F.col("__qid") != F.col("neighbor_id"))
        .select("__qid", F.col("neighbor_id").alias("__cid"), "q_rn")
        .join(F.broadcast(qv), "__qid")
        .join(cv, "__cid")
        .select(
            "__qid", "__cid", "q_rn",
            F.round(
                _pair_cosine(
                    F.col("__qv"), F.col("__cv"),
                    F.col("__qn"), F.col("__cn"),
                ),
                4,
            ).alias("__sim"),
        )
    )
    parts = []
    for np_ in _Q197_PROBES:
        cand = all_scored.filter(F.col("q_rn") <= np_)
        scored = cand.filter(F.col("__sim").isNotNull())
        wp = W.partitionBy("__qid").orderBy(
            F.col("__sim").desc(), F.col("__cid").asc()
        )
        top = (
            scored.withColumn("__rk", F.row_number().over(wp))
            .filter(F.col("__rk") <= 5)
            .select("__qid", "__cid")
        )
        hits = exact.join(
            top,
            (F.col("__eqid") == F.col("__qid"))
            & (F.col("__enid") == F.col("__cid")),
            "left",
        ).agg(
            F.count(F.lit(1)).alias("k_total"),
            F.count("__cid").alias("n_hit"),
        )
        n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
        parts.append(
            hits.crossJoin(F.broadcast(n_cand)).select(
                F.lit(np_).cast("int").alias("n_probe"),
                F.col("k_total").cast("long").alias("k_total"),
                F.col("n_hit").cast("long").alias("n_hit"),
                F.round(
                    F.col("n_hit").cast("double") / F.col("k_total"), 4
                ).alias("recall"),
                F.col("n_cand").cast("long").alias("n_cand"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("n_probe")


def _q197_sql() -> str:
    """The q188 oracle parametrized over n_probe and unioned — the
    shared CTE prefix (exact top-k, centroids, corpus cells, query
    distance ranking) computes once; each sweep point is a prefix
    filter of the same ranked assignment."""
    per_probe = "\nUNION ALL\n".join(
        f"""SELECT {np_} AS n_probe,
       (SELECT count(*) FROM exact_top) AS k_total,
       (SELECT count(*) FROM exact_top e
        JOIN (SELECT vec_id, neighbor_id FROM (
                SELECT s.qid AS vec_id, s.nid AS neighbor_id,
                       row_number() OVER (PARTITION BY s.qid
                                          ORDER BY s.sim DESC, s.nid) AS rk
                FROM cand_scored s WHERE s.q_rn <= {np_}) WHERE rk <= 5) a
          ON a.vec_id = e.vec_id AND a.neighbor_id = e.neighbor_id)
         AS n_hit,
       round((SELECT count(*) FROM exact_top e
              JOIN (SELECT vec_id, neighbor_id FROM (
                      SELECT s.qid AS vec_id, s.nid AS neighbor_id,
                             row_number() OVER (PARTITION BY s.qid
                                                ORDER BY s.sim DESC, s.nid) AS rk
                      FROM cand_scored s WHERE s.q_rn <= {np_}) WHERE rk <= 5) a
                ON a.vec_id = e.vec_id AND a.neighbor_id = e.neighbor_id
             )::DOUBLE
             / (SELECT count(*) FROM exact_top), 4) AS recall,
       (SELECT count(*) FROM cand_scored WHERE q_rn <= {np_}) AS n_cand"""
        for np_ in _Q197_PROBES
    )
    return f"""
WITH exact_scored AS (
  SELECT q.vec_id,
         c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 4)
           AS cosine_sim
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20),
exact_top AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS rk
    FROM exact_scored) WHERE rk <= 5),
cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings ORDER BY vec_id LIMIT 16),
q_assign AS (
  SELECT e.vec_id AS qid, c.cid,
         list_inner_product(c.cv, c.cv)
           - 2 * list_inner_product(CAST(e.embedding AS DOUBLE[]), c.cv)
           AS dist
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id < 20),
q_cells AS (
  SELECT qid, cid, rn AS q_rn FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid
                              ORDER BY dist ASC, cid ASC) AS rn
    FROM q_assign)
  WHERE rn <= {max(_Q197_PROBES)}),
c_assign AS (
  SELECT e.vec_id AS nid, c.cid,
         list_inner_product(c.cv, c.cv)
           - 2 * list_inner_product(CAST(e.embedding AS DOUBLE[]), c.cv)
           AS dist
  FROM embeddings e CROSS JOIN cents c),
c_cells AS (
  SELECT nid, cid FROM (
    SELECT nid, cid,
           row_number() OVER (PARTITION BY nid
                              ORDER BY dist ASC, cid ASC) AS rn
    FROM c_assign)
  WHERE rn = 1),
cand_scored AS MATERIALIZED (
  SELECT q.qid, c.nid, q.q_rn,
         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ce.embedding AS DOUBLE[])), 4)
           AS sim
  FROM q_cells q
  JOIN c_cells c ON q.cid = c.cid AND q.qid <> c.nid
  JOIN embeddings qe ON qe.vec_id = q.qid
  JOIN embeddings ce ON ce.vec_id = c.nid)
SELECT * FROM ({per_probe})
ORDER BY n_probe
"""


_Q197_SQL = _q197_sql()


# ---------------------------------------------------------------------------
# q189 — margin-based bitext mining (Artetxe & Schwenk 2019): align
# two embedding spaces by RATIO margin instead of raw cosine — for
# each query vector on side A (label-even), its best side-B
# (label-odd) neighbor is accepted only when cos(a, b) clears the mean
# of both endpoints' top-k neighborhoods: margin = cos /
# ((mean top-k cos of a toward B + mean top-k cos of b toward A) / 2).
# The raw-cosine rule mines hubs (vectors close to everything); the
# margin rule is what makes mined parallel corpora usable — and it is
# the last missing member of the similarity family: q44/q45/q55
# retrieve, q46/q56/q80/q181 dedup, q99 fuses, q189 ALIGNS two spaces.
#
# Determinism: every cosine is rounded before ranking (the q44
# convention); the margin derives from the rounded cosines and the
# accept flag from the ROUNDED margin (the q187 lesson). Shape at
# scale: both top-k arms are the documented brute broadcast regime
# (40 mining queries / ≤ 40 back-probes); a full-corpus mining run
# swaps in ann_topk for both arms — identical output contract, the
# q99 posture.
# ---------------------------------------------------------------------------

_Q189_K = 4
_Q189_NQ = 40
_Q189_MARGIN = 1.05


def q189_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    a_full = emb.filter(F.col("label") % 2 == 0).select("vec_id", "embedding")
    b_full = emb.filter(F.col("label") % 2 == 1).select("vec_id", "embedding")
    q = a_full.filter(F.col("vec_id") < _Q189_NQ)

    # Denominators in INTEGER space (the q187 lesson, applied before it
    # bites): cosine_topk's cosine_sim is a 4-decimal multiple, so
    # round(cos*1e4) recovers an exact int64 in both engines, the two
    # neighborhood sums are exact integers, and the margin
    #   cos / ((mean_a + mean_b)/2) = (cos·1e4·2k) / (Σa + Σb)
    # is ONE int/int division — identical doubles everywhere. An avg()
    # of doubles instead would re-expose the partial-aggregation-order
    # ulp that can flip round(·,4) (and the accept flag) near a .00005
    # boundary.
    scaled = F.round(F.col("cosine_sim") * 10000).cast("long")

    fwd = cosine_topk(
        q, b_full, "vec_id", "vec_id", "embedding", "embedding", k=_Q189_K
    )
    da = fwd.groupBy("vec_id").agg(F.sum(scaled).alias("__sa"))
    best = fwd.filter(F.col("rk") == 1).select(
        F.col("vec_id").alias("a_id"),
        F.col("neighbor_id").alias("b_id"),
        F.col("cosine_sim").alias("cos"),
    )
    bq = b_full.join(
        best.select(F.col("b_id").alias("vec_id")).distinct(), "vec_id"
    )
    bwd = cosine_topk(
        bq, a_full, "vec_id", "vec_id", "embedding", "embedding", k=_Q189_K
    )
    db = bwd.groupBy("vec_id").agg(F.sum(scaled).alias("__sb"))

    # try_divide: a degenerate neighborhood (sum <= 0 is possible with
    # negative cosines) nulls the margin and drops at the accept flag
    margin = F.round(
        F.try_divide(
            F.round(F.col("cos") * 10000).cast("long") * (2 * _Q189_K),
            F.col("__sa") + F.col("__sb"),
        ),
        4,
    )
    return (
        best.join(da.withColumnRenamed("vec_id", "a_id"), "a_id")
        .join(db.withColumnRenamed("vec_id", "b_id"), "b_id")
        .select("a_id", "b_id", "cos", margin.alias("margin"))
        .withColumn(
            "accepted",
            F.coalesce(F.col("margin") >= _Q189_MARGIN, F.lit(False)),
        )
        .orderBy("a_id")
    )


_Q189_SQL = f"""
WITH a_full AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label % 2 = 0),
b_full AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label % 2 = 1),
q AS (SELECT * FROM a_full WHERE vec_id < {_Q189_NQ}),
fwd0 AS (
  SELECT q.vec_id AS a_id, b.vec_id AS b_id,
         round(list_cosine_similarity(q.v, b.v), 4) AS cos
  FROM q CROSS JOIN b_full b),
fwd AS (
  SELECT *, row_number() OVER (PARTITION BY a_id
                               ORDER BY cos DESC, b_id) AS rk
  FROM fwd0),
da AS (
  SELECT a_id, sum(CAST(round(cos * 10000) AS BIGINT)) AS sa
  FROM fwd WHERE rk <= {_Q189_K} GROUP BY 1),
best AS (SELECT a_id, b_id, cos FROM fwd WHERE rk = 1),
bq AS (SELECT DISTINCT b_id FROM best),
bwd0 AS (
  SELECT b.vec_id AS b_id, a.vec_id AS a2,
         round(list_cosine_similarity(b.v, a.v), 4) AS cos
  FROM b_full b JOIN bq ON bq.b_id = b.vec_id
  CROSS JOIN a_full a),
bwd AS (
  SELECT *, row_number() OVER (PARTITION BY b_id
                               ORDER BY cos DESC, a2) AS rk
  FROM bwd0),
db AS (
  SELECT b_id, sum(CAST(round(cos * 10000) AS BIGINT)) AS sb
  FROM bwd WHERE rk <= {_Q189_K} GROUP BY 1)
SELECT a_id, b_id, cos, margin,
       coalesce(margin >= {_Q189_MARGIN}, FALSE) AS accepted
FROM (
  SELECT best.a_id, best.b_id, best.cos,
         round(CAST(round(best.cos * 10000) AS BIGINT) * {2 * _Q189_K}
               / nullif(da.sa + db.sb, 0), 4) AS margin
  FROM best
  JOIN da USING (a_id)
  JOIN db USING (b_id))
ORDER BY a_id
"""


QUERIES = {
    "q40_exact_dedup": q40_exact_dedup,
    "q159_normalized_dedup": q159_normalized_dedup,
    "q169_unicode_normalized_dedup": q169_unicode_normalized_dedup,
    "q191_cjk_normalized_dedup": q191_cjk_normalized_dedup,
    "q170_script_profile": q170_script_profile,
    "q172_top_ngram_fraction": q172_top_ngram_fraction,
    "q176_passage_removal": q176_passage_removal,
    "q200_passage_miss_rate": q200_passage_miss_rate,
    "q202_int8_recall": q202_int8_recall,
    "q67_dedup_clusters": q67_dedup_clusters,
    "q77_fuzzy_join": q77_fuzzy_join,
    "q74_semantic_clusters": q74_semantic_clusters,
    "q80_semantic_clusters_lsh": q80_semantic_clusters_lsh,
    "q181_semdedup": q181_semdedup,
    "q182_contamination_fraction": q182_contamination_fraction,
    "q183_dup_lines": q183_dup_lines,
    "q186_ann_recall": q186_ann_recall,
    "q190_ann_multiprobe_recall": q190_ann_multiprobe_recall,
    "q187_minhash_calibration": q187_minhash_calibration,
    "q188_ivf_recall": q188_ivf_recall,
    "q197_ivf_probe_sweep": q197_ivf_probe_sweep,
    "q189_margin_mining": q189_margin_mining,
    "q75_corpus_pipeline": q75_corpus_pipeline,
    "q68_bm25": q68_bm25,
    "q69_stratified_sample": q69_stratified_sample,
    "q70_frequent_terms": q70_frequent_terms,
    "q41_jaccard_pairs": q41_jaccard_pairs,
    "q158_containment_pairs": q158_containment_pairs,
    "q163_containment_dedup": q163_containment_dedup,
    "q42_minhash_lsh": q42_minhash_lsh,
    "q43_simhash": q43_simhash,
    "q44_cosine_topk": q44_cosine_topk,
    "q45_ann_lsh": q45_ann_lsh,
    "q55_ann_ivf": q55_ann_ivf,
    "q56_cosine_neardup_gemm": q56_cosine_neardup_gemm,
    "q46_cosine_neardup": q46_cosine_neardup,
    "q47_text_stats": q47_text_stats,
    "q48_lang_id": q48_lang_id,
    "q49_fingerprint": q49_fingerprint,
    "q57_winnowing": q57_winnowing,
    "q58_overlap_pairs": q58_overlap_pairs,
    "q59_incremental_dedup": q59_incremental_dedup,
    "q85_chunk_documents": q85_chunk_documents,
    "q86_sequence_pack": q86_sequence_pack,
    "q87_decontaminate": q87_decontaminate,
    "q154_decontaminate_bloom": q154_decontaminate_bloom,
    "q155_sparse_cosine_topk": q155_sparse_cosine_topk,
    "q138_semantic_decontaminate": q138_semantic_decontaminate,
    "q140_semantic_decontaminate_lsh": q140_semantic_decontaminate_lsh,
    "q142_source_overlap": q142_source_overlap,
    "q144_duplicate_passages": q144_duplicate_passages,
    "q145_cluster_split": q145_cluster_split,
    "q149_doc_pack_nfd": q149_doc_pack_nfd,
    "q153_token_budget_pack": q153_token_budget_pack,
    "q88_repetition_filter": q88_repetition_filter,
    "q89_curation_pipeline": q89_curation_pipeline,
}

ORACLE = {
    "q42_minhash_lsh": _Q42_SQL,
    "q43_simhash": _Q43_SQL,
    "q45_ann_lsh": _Q45_SQL,
    "q55_ann_ivf": _Q55_SQL,
    "q67_dedup_clusters": _Q67_SQL,
    "q74_semantic_clusters": _Q74_SQL,
    "q80_semantic_clusters_lsh": _Q80_SQL,
    "q181_semdedup": _Q181_SQL,
    "q182_contamination_fraction": _Q182_SQL,
    "q183_dup_lines": _Q183_SQL,
    "q186_ann_recall": _Q186_SQL,
    "q190_ann_multiprobe_recall": _Q190_SQL,
    "q187_minhash_calibration": _Q187_SQL,
    "q188_ivf_recall": _Q188_SQL,
    "q197_ivf_probe_sweep": _Q197_SQL,
    "q189_margin_mining": _Q189_SQL,
    "q75_corpus_pipeline": _Q75_SQL,
    "q77_fuzzy_join": _Q77_SQL,
    "q68_bm25": _Q68_SQL,
    "q69_stratified_sample": _Q69_SQL,
    "q70_frequent_terms": _Q70_SQL,
    # The GEMM path computes the same float64 cosines as the native q46
    # plan modulo BLAS summation order (ulps); outputs round to 4
    # decimals and are boundary-safe on the fixtures (verified 0/400
    # mismatches vs DuckDB), so it shares q46's oracle SQL. A different
    # BLAS could in principle flip a half-boundary digit — if this
    # oracle ever flakes on new hardware, that's the cause
    # (tests/test_dedup_sim.py pins GEMM≈exact with tolerance).
    "q56_cosine_neardup_gemm": _Q46_SQL,
    "q57_winnowing": _Q57_SQL,
    "q58_overlap_pairs": _Q58_SQL,
    "q59_incremental_dedup": _Q59_SQL,
    "q40_exact_dedup": _Q40_SQL,
    "q159_normalized_dedup": _Q159_SQL,
    "q169_unicode_normalized_dedup": _Q169_SQL,
    "q191_cjk_normalized_dedup": _Q191_SQL,
    "q170_script_profile": _Q170_SQL,
    "q172_top_ngram_fraction": _Q172_SQL,
    "q176_passage_removal": _Q176_SQL,
    "q200_passage_miss_rate": _Q200_SQL,
    "q202_int8_recall": _Q202_SQL,
    "q41_jaccard_pairs": _Q41_SQL,
    "q158_containment_pairs": _Q158_SQL,
    "q163_containment_dedup": _Q163_SQL,
    "q44_cosine_topk": _Q44_SQL,
    "q46_cosine_neardup": _Q46_SQL,
    "q47_text_stats": _Q47_SQL,
    "q48_lang_id": _Q48_SQL,
    "q49_fingerprint": _Q49_SQL,
    "q85_chunk_documents": _Q85_SQL,
    "q86_sequence_pack": _Q86_SQL,
    "q87_decontaminate": _Q87_SQL,
    "q154_decontaminate_bloom": _Q154_SQL,
    "q155_sparse_cosine_topk": _Q155_SQL,
    "q138_semantic_decontaminate": _Q138_SQL,
    "q140_semantic_decontaminate_lsh": _Q140_SQL,
    "q142_source_overlap": _Q142_SQL,
    "q144_duplicate_passages": _Q144_SQL,
    "q145_cluster_split": _Q145_SQL,
    "q149_doc_pack_nfd": _Q149_SQL,
    "q153_token_budget_pack": _Q153_SQL,
    "q88_repetition_filter": _Q88_SQL,
    "q89_curation_pipeline": _Q89_SQL,
}
