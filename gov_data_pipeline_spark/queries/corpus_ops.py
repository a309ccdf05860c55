"""Round-6 surface: corpus statistics + warehouse time-travel ops.

Two families, both oracle-checked end-to-end:

* **Corpus statistics** (q94, q95) — the unigram language-model score a
  quality-filter pipeline uses as a perplexity proxy, and a df-banded
  inverted index (the keyword-search companion to q68's BM25). Both are
  explode → hash-aggregate shapes: the corpus shuffles tokens once, and
  every later stage moves vocabulary-sized data, never document bytes.
* **Warehouse** (q96-q98) — exact rank-based winsorization (the
  oracle-checkable twin of the approx-percentile clamp a 100 TB job
  would run), a multi-granularity hypertable rollup over the event
  stream, and a point-in-time join of facts to q91's SCD-2 dimension
  history — the feature-store join that keeps training data free of
  time-travel leakage. The PIT join is deliberately implemented with
  the union-tag as-of operator (``operators/relational.asof_join``, one
  key shuffle) and oracled with the naive interval join: proving the
  two formulations equal is exactly the evidence that the as-of shape
  is safe to use at scale, where an interval join would row-explode.

Reference ancestry: the reference has no corpus/warehouse layer at all
(SURVEY.md §2.1); these extend §2.2's L8 text-analysis and T13/T22
window families the way BASELINE.json's north star asks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from gov_data_pipeline_spark.catalog import read_table as _t


# ---------------------------------------------------------------------------
# q94 — unigram log-probability scoring (perplexity-proxy quality gate).
# ---------------------------------------------------------------------------


def q94_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document by the mean log-probability of its tokens
    under the corpus's own unigram LM — the cheap perplexity proxy
    quality filters use before anything neural.

    Shape at scale: one token-hash aggregate builds the vocabulary
    (vocabulary ≪ corpus, and the aggregate is map-side partial), the
    token→count join shuffles on the term key (AQE demotes it to
    broadcast when the filtered vocabulary is small enough), and the
    per-doc reduce is a doc_id hash aggregate. Nothing is quadratic,
    nothing collects.
    """
    from gov_data_pipeline_spark.functions.textstats import term_rows

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = term_rows(docs, "doc_id", F.col("text"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    return (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(
                F.sum(F.log(F.col("cnt") / F.col("total"))) / F.count(F.lit(1)), 4
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


_Q94_SQL = r"""
WITH toks AS (
  SELECT * FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
    FROM documents) WHERE term <> ''),
v AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
t AS (SELECT sum(cnt) AS total FROM v)
SELECT doc_id, count(*) AS n_toks,
       round(sum(ln(cnt / total)) / count(*), 4) AS avg_logprob
FROM toks JOIN v USING (term) CROSS JOIN t
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q171 — bigram LM scoring (the next perplexity-proxy tier above q94).
# ---------------------------------------------------------------------------


def q171_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document by the mean log-probability of its word
    BIGRAMS under the corpus's own add-one-smoothed bigram LM —
    ``ln((c(w1 w2) + 1) / (c(w1 ·) + V))`` per bigram, averaged per
    document. The tier between q94's unigram proxy and a neural
    perplexity filter (the CCNet/KenLM shape): repeated boilerplate
    scores high, word-salad scores low even when its unigrams are
    common.

    Shape at scale — the part that matters at 100 TB: the bigram model
    is VOCABULARY², far past broadcast range, so scoring joins doc
    bigrams to the model on the ngram key (shuffle join both sides —
    exactly how KenLM-style scoring distributes); context counts are
    one more vocabulary-sized aggregate OVER THE MODEL (not a corpus
    pass); the smoothing denominator's V is a 1-row broadcast. The
    corpus scans three times here (model build, the V vocabulary
    count, scoring) — a production pipeline reuses q94's unigram
    vocabulary aggregate for V, folding the middle scan away; it is
    kept explicit here so the query stands alone. Documents with
    fewer than two words have no bigrams and produce no row — q94's
    convention.

    Bigrams are built by POSITION EXPLODE + two ``element_at``s —
    whole-stage codegen end to end (r13; the previous
    zip-against-shifted-tail ``zip_with(slice, slice)`` array build is
    a higher-order function, i.e. an interpreted CodegenFallback
    lambda per token). The bigram relation is ``localCheckpoint``-ed
    because it has THREE consumers (model aggregate, context counts
    via the model, the scoring join) whose subtrees Catalyst cannot
    exchange-reuse once the small model side broadcasts: the r13
    before-plan showed FOUR separate corpus scans each paying the
    interpreted gram build; pinned, the corpus text is scanned twice total (bigrams + the
    deliberate standalone V pass) and exploded once. Log is float
    with round-4 before output — the q94 convention the sweep accepts
    (both engines compute ln of the identical rational).
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bg = (
        docs.select("doc_id", ws.alias("__ws"))
        .where(F.size("__ws") >= 2)
        .select(
            "doc_id",
            "__ws",
            F.explode(F.sequence(F.lit(1), F.size("__ws") - 1)).alias("__i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at("__ws", F.col("__i")),
                F.element_at("__ws", F.col("__i") + 1),
            ).alias("bg"),
        )
    ).localCheckpoint()
    model = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    ctx = (
        model.groupBy(F.substring_index("bg", " ", 1).alias("__w1"))
        .agg(F.sum("c12").alias("c1"))
    )
    from gov_data_pipeline_spark.functions.textstats import term_rows

    v = term_rows(docs, "doc_id", F.col("text")).agg(
        F.count_distinct("term").alias("v")
    )
    return (
        bg.join(model, "bg")
        .join(ctx, F.substring_index("bg", " ", 1) == F.col("__w1"))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(
                    F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")))
                )
                / F.count(F.lit(1)),
                4,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


_Q171_SQL = r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i+1])) AS bg
  FROM ws WHERE len(w) >= 2),
model AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY bg),
ctx AS (
  SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
  FROM model GROUP BY 1),
toks AS (
  SELECT * FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
    FROM documents) WHERE term <> ''),
v AS (SELECT count(DISTINCT term) AS v FROM toks)
SELECT b.doc_id, count(*) AS n_bigrams,
       round(sum(ln((m.c12 + 1) / (c.c1 + v.v))) / count(*), 4)
         AS avg_logprob
FROM bg b
JOIN model m ON m.bg = b.bg
JOIN ctx c ON c.w1 = split_part(b.bg, ' ', 1)
CROSS JOIN v
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


# ---------------------------------------------------------------------------
# q174 — temperature-weighted source quotas via largest-remainder
# apportionment (the T5/Pile data-mixing primitive).
# ---------------------------------------------------------------------------

_Q174_BUDGET = 1000


def q174_temperature_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling quotas for a document budget of 1000 under
    two mixing policies: PROPORTIONAL (α = 1 — big sources dominate)
    and TEMPERATURE-SMOOTHED (α = 0.5, the T5/Pile convention — weight
    ∝ size^α compresses the spread so small sources keep
    representation). Size is the per-source character volume, the unit
    mixture designers actually budget.

    Quotas are made EXACT with largest-remainder (Hamilton)
    apportionment — not a float-rounding pass that can gain or lose
    units: base = (N·w) div W integer floor, then the N − Σbase
    leftover units go to the largest remainders (tie → source name
    asc). Every quantity is int64 (α = 0.5 weights are
    floor(sqrt·1e6) fixed-point; both engines' sqrt is
    correctly-rounded IEEE on the identical int-valued double), so the
    oracle reproduces every quota bit-for-bit and Σ quota = N by
    construction in both engines. Scale shape: one map-side-partial
    aggregate to source-sized data (~thousands of rows at any corpus
    size), then window arithmetic over that — nothing document-sized
    moves after the first aggregate.

    The selection step these quotas feed is q165's exact-k stratified
    sampler (k per stratum = this quota); this query pins the
    quota MATH, q165 pins the membership."""
    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("c"),
    )

    # global windows, not crossJoin-with-own-aggregate: the frame is
    # source-sized (thousands of rows at worst), and a self-derived
    # broadcast would hit Spark's ambiguous-self-join lineage
    full = W.partitionBy()

    def apportion(df: DataFrame, w: F.Column, out: str) -> DataFrame:
        # NOTE __wt/__tot, not __w/__W: Spark resolves column names
        # case-insensitively by default, so a w/W pair silently aliases
        # to ONE column and every base becomes budget*w div w
        df = df.withColumn("__wt", w)
        df = df.withColumn("__tot", F.sum("__wt").over(full))
        df = df.withColumn(
            "__base",
            F.expr(f"({_Q174_BUDGET}L * __wt) div __tot").cast("long"),
        ).withColumn("__rem", F.expr(f"({_Q174_BUDGET}L * __wt) % __tot"))
        df = df.withColumn("__B", F.sum("__base").over(full))
        rk = W.orderBy(F.col("__rem").desc(), F.col("source").asc())
        df = df.withColumn("__rk", F.row_number().over(rk))
        return df.withColumn(
            out,
            (
                F.col("__base")
                + F.when(
                    F.col("__rk") <= _Q174_BUDGET - F.col("__B"), 1
                ).otherwise(0)
            ).cast("long"),
        ).drop("__wt", "__tot", "__base", "__rem", "__B", "__rk")

    out = apportion(counts, F.col("c"), "quota_prop")
    out = apportion(
        out,
        F.floor(F.sqrt(F.col("c").cast("double")) * 1e6).cast("long"),
        "quota_temp",
    )
    return out.select(
        "source", "n_docs", "c", "quota_prop", "quota_temp"
    ).orderBy("source")


_Q174_SQL = f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS c
  FROM documents GROUP BY source),
p AS (
  SELECT *,
         ({_Q174_BUDGET} * c) // (SELECT sum(c) FROM counts) AS base_p,
         ({_Q174_BUDGET} * c) % (SELECT sum(c) FROM counts) AS rem_p
  FROM counts),
p2 AS (
  SELECT *, row_number() OVER (ORDER BY rem_p DESC, source ASC) AS rk_p,
         (SELECT sum(base_p) FROM p) AS b_p
  FROM p),
t AS (
  SELECT *, CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS w
  FROM p2),
t2 AS (
  SELECT *,
         ({_Q174_BUDGET} * w) // (SELECT sum(w) FROM t) AS base_t,
         ({_Q174_BUDGET} * w) % (SELECT sum(w) FROM t) AS rem_t
  FROM t),
t3 AS (
  SELECT *, row_number() OVER (ORDER BY rem_t DESC, source ASC) AS rk_t,
         (SELECT sum(base_t) FROM t2) AS b_t
  FROM t2)
SELECT source, n_docs, c,
       CAST(base_p + CASE WHEN rk_p <= {_Q174_BUDGET} - b_p THEN 1 ELSE 0 END
            AS BIGINT) AS quota_prop,
       CAST(base_t + CASE WHEN rk_t <= {_Q174_BUDGET} - b_t THEN 1 ELSE 0 END
            AS BIGINT) AS quota_temp
FROM t3
ORDER BY source
"""


# ---------------------------------------------------------------------------
# q175 — BPE-style phrase-merge induction (tokenizer training, the
# word-level shape) — two unrolled merge rounds, oracle-exact.
# ---------------------------------------------------------------------------


def _adjacent_pair_counts(df: DataFrame) -> DataFrame:
    """(pair, cnt) counts of adjacent token pairs of the space-joined
    ``t`` column — the pair-counting half of the q175/q185 BPE merge
    round. Pairs come from a POSITION explode + two ``element_at``s
    (whole-stage codegen, r13); the previous ``zip_with(slice, slice)``
    array build was an interpreted higher-order lambda per token, paid
    once per merge round per query. Docs with fewer than two tokens
    contribute no pairs (the old empty-array explode produced none
    either)."""
    ws = F.split(F.trim(F.col("t")), " ")
    return (
        df.select(ws.alias("__ws"))
        .where(F.size("__ws") >= 2)
        .select(
            "__ws",
            F.explode(F.sequence(F.lit(1), F.size("__ws") - 1)).alias("__i"),
        )
        .select(
            F.concat_ws(
                " ",
                F.element_at("__ws", F.col("__i")),
                F.element_at("__ws", F.col("__i") + 1),
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q175_phrase_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Induce the first TWO merge rules of a BPE-style phrase
    vocabulary over the corpus — the tokenizer-training loop run at
    corpus scale: count adjacent symbol pairs, merge the most frequent
    (ties to the lexicographically smallest pair), re-tokenize, and
    repeat; round 2 counts pairs over the MERGED stream, so a
    round-1 merge can itself participate (exactly BPE's recurrence,
    here on word symbols — character-level BPE is this same loop with
    a character explode). Output: one row per round with the merged
    pair, its count, and the post-merge corpus token count.

    Determinism across engines, the non-obvious parts: the merge
    applies with plain ``replace`` on the space-padded symbol stream —
    BOTH engines scan left-to-right and resume AFTER the inserted
    replacement, so overlapping occurrences ('a a a' under merge
    'a a') resolve identically (verified: ' a_a a a b ' in both); the
    argmax tiebreak is (count desc, pair asc); counts and token totals
    are int64. The winning pair per round is ONE ROW collected to the
    driver — model state, the q113 k-means convention — because the
    next round's expression embeds it; everything corpus-sized stays
    distributed (pair counting is one map-side-partial aggregate per
    round, re-tokenization one projection).
    """
    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            F.concat(
                F.lit(" "),
                F.array_join(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+"), " "
                ),
                F.lit(" "),
            ).alias("t"),
        )
        .localCheckpoint()
    )

    pair_counts = _adjacent_pair_counts

    rows = []
    cur = base
    for rnd in (1, 2):
        top = (
            pair_counts(cur)
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .first()
        )
        if top is None:  # empty corpus: no merges to learn
            return spark.createDataFrame(
                [],
                "round int, merged_pair string, pair_count bigint,"
                " n_tokens_after bigint",
            )
        merged = top["pair"].replace(" ", "_")
        cur = cur.select(
            "doc_id",
            F.replace(
                F.col("t"),
                F.lit(f" {top['pair']} "),
                F.lit(f" {merged} "),
            ).alias("t"),
        ).localCheckpoint()
        n_after = (
            cur.select(
                F.sum(F.size(F.split(F.trim(F.col("t")), " "))).alias("n")
            ).first()["n"]
        )
        rows.append((rnd, top["pair"], int(top["cnt"]), int(n_after)))
    return spark.createDataFrame(
        rows,
        "round int, merged_pair string, pair_count bigint,"
        " n_tokens_after bigint",
    ).orderBy("round")


_Q175_SQL = r"""
WITH t0 AS (
  SELECT doc_id,
         ' ' || array_to_string(string_split_regex(lower(trim(text)),
                                                   '\s+'), ' ') || ' ' AS t
  FROM documents WHERE length(trim(text)) > 0),
p1 AS (
  SELECT pair, count(*) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i+1])) AS pair
    FROM (SELECT string_split(trim(t), ' ') AS w FROM t0)
    WHERE len(w) >= 2)
  GROUP BY pair),
top1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair ASC LIMIT 1),
t1 AS (
  SELECT doc_id,
         replace(t, ' ' || (SELECT pair FROM top1) || ' ',
                 ' ' || replace((SELECT pair FROM top1), ' ', '_') || ' ')
           AS t
  FROM t0),
p2 AS (
  SELECT pair, count(*) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i+1])) AS pair
    FROM (SELECT string_split(trim(t), ' ') AS w FROM t1)
    WHERE len(w) >= 2)
  GROUP BY pair),
top2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair ASC LIMIT 1),
t2 AS (
  SELECT doc_id,
         replace(t, ' ' || (SELECT pair FROM top2) || ' ',
                 ' ' || replace((SELECT pair FROM top2), ' ', '_') || ' ')
           AS t
  FROM t1)
SELECT 1 AS round, (SELECT pair FROM top1) AS merged_pair,
       CAST((SELECT cnt FROM top1) AS BIGINT) AS pair_count,
       (SELECT CAST(sum(len(string_split(trim(t), ' '))) AS BIGINT)
        FROM t1) AS n_tokens_after
UNION ALL
SELECT 2, (SELECT pair FROM top2),
       CAST((SELECT cnt FROM top2) AS BIGINT),
       (SELECT CAST(sum(len(string_split(trim(t), ' '))) AS BIGINT)
        FROM t2)
ORDER BY round
"""


# ---------------------------------------------------------------------------
# q143 — contrastive per-source vocabulary: what characterizes each
# source vs the rest of the corpus (the data-audit view a mixture
# designer reads before weighting feeds). Smoothed log-odds
# ln((c+1)/(n_s+V)) − ln((c_rest+1)/(n_rest+V)) per (source, term),
# top-10 per source ranked on the ROUNDED score (ties broken by term)
# so window order can never hinge on a cross-engine log ulp.
#
# Scale shape: token rows reduce to (source, term) counts in ONE
# map-side-partial aggregate (vocabulary-sized, ≪ corpus); the
# rest-of-corpus counts come from a term-keyed join of two
# vocabulary-sized relations; per-source totals and the vocab size are
# 1-row/tiny broadcasts. Nothing document-sized crosses an exchange
# after the first aggregate.
# ---------------------------------------------------------------------------


def q143_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.functions.textstats import term_rows

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    toks = term_rows(docs, "source", F.col("text"))
    st = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    ts = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    tt = st.groupBy("term").agg(F.sum("c").alias("n_t"))
    gl = st.agg(
        F.sum("c").alias("n_total"),
        F.count_distinct("term").alias("v"),
    )
    score = F.round(
        F.log((F.col("c") + 1) / (F.col("n_s") + F.col("v")))
        - F.log(
            (F.col("n_t") - F.col("c") + 1)
            / (F.col("n_total") - F.col("n_s") + F.col("v"))
        ),
        6,
    )
    scored = (
        st.join(tt, "term")
        .join(F.broadcast(ts), "source")
        .crossJoin(F.broadcast(gl))
        .select("source", "term", "c", score.alias("log_odds"))
    )
    w = W.partitionBy("source").orderBy(
        F.col("log_odds").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select(
            "source", "term",
            F.col("c").alias("tf"),
            "log_odds",
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("source", "rk")
    )


_Q143_SQL = r"""
WITH toks AS (
  SELECT * FROM (
    SELECT source,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
    FROM documents) WHERE term <> ''),
st AS (SELECT source, term, count(*) AS c FROM toks GROUP BY source, term),
ts AS (SELECT source, sum(c) AS n_s FROM st GROUP BY source),
tt AS (SELECT term, sum(c) AS n_t FROM st GROUP BY term),
gl AS (SELECT sum(c) AS n_total, count(DISTINCT term) AS v FROM st),
scored AS (
  SELECT st.source, st.term, st.c,
         round(ln((st.c + 1) / (ts.n_s + gl.v))
               - ln((tt.n_t - st.c + 1) / (gl.n_total - ts.n_s + gl.v)),
               6) AS log_odds
  FROM st JOIN tt USING (term) JOIN ts USING (source) CROSS JOIN gl),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY log_odds DESC, term) AS rk
  FROM scored)
SELECT source, term, CAST(c AS BIGINT) AS tf, log_odds, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 10
ORDER BY source, rk
"""


# ---------------------------------------------------------------------------
# q146 — epoch-weighted mixture: fractional per-language repeat factors
# (the pretraining up/down-sampling step — "see wiki 3.5 times, web 0.5
# times per epoch"). Each document emits floor(w) full copies plus one
# extra copy for a deterministic hash-selected fraction of documents,
# so the EXPECTED per-language token multiple equals w while membership
# stays a pure function of the doc id (reproducible on any engine /
# cluster / partitioning — no rand()). Weights are fixed-point 256ths
# ((whole, extra-cut) pairs), so the whole query is integer + md5
# arithmetic: nothing for a float ulp to flip.
#
# Distinct from q139 (char-budget PREFIX cutoff: hard byte budget per
# source) — this is the repeat-factor mixture, where upweighted sources
# appear multiple times with an epoch index the downstream shard
# shuffle spreads across the run.
#
# Scale shape: one projection + one Generate (explode of a <=4-element
# sequence) — ZERO data shuffles; the ORDER BY is presentation-only.
# ---------------------------------------------------------------------------

# lang -> (full copies, extra-copy bucket cut of 256): en 0.5, de 1.0,
# fr 1.5, es 2.25, zh 3.5
_Q146_WEIGHTS = {
    "en": (0, 128),
    "de": (1, 0),
    "fr": (1, 128),
    "es": (2, 64),
    "zh": (3, 128),
}


def q146_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.functions.sampling import hash_bucket_col

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    whole = F.lit(None).cast("int")
    cut = F.lit(None).cast("int")
    for lang, (w, c) in _Q146_WEIGHTS.items():
        whole = F.when(F.col("lang") == lang, F.lit(w)).otherwise(whole)
        cut = F.when(F.col("lang") == lang, F.lit(c)).otherwise(cut)
    copies = whole + (hash_bucket_col(F.col("doc_id")) < cut).cast("int")
    return (
        docs.withColumn("copies", copies)
        .filter(F.col("copies") >= 1)
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1), F.col("copies"))).alias("epoch"),
        )
        .orderBy("doc_id", "epoch")
    )


_Q146_SQL = r"""
WITH w AS (
  SELECT doc_id, lang,
         CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 1 WHEN 'fr' THEN 1
                   WHEN 'es' THEN 2 WHEN 'zh' THEN 3 END
         + CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT
                     < CASE lang WHEN 'en' THEN 128 WHEN 'de' THEN 0
                                 WHEN 'fr' THEN 128 WHEN 'es' THEN 64
                                 WHEN 'zh' THEN 128 END
                THEN 1 ELSE 0 END AS copies
  FROM documents)
SELECT doc_id, lang, CAST(unnest(range(1, copies + 1)) AS INT) AS epoch
FROM w WHERE copies >= 1
ORDER BY doc_id, epoch
"""


# ---------------------------------------------------------------------------
# q95 — df-banded inverted index (term -> ordered posting list).
# ---------------------------------------------------------------------------


def q95_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the posting lists for discriminative terms (document
    frequency in [2, 20] — singletons index nothing, stop-words drown
    the index).

    Two-phase on purpose: the df aggregate runs and FILTERS before any
    posting list materializes, so a hot term ("the", df = corpus size)
    is dropped by the band while still a (term, count) pair — the
    collect_list only ever sees terms whose postings are provably ≤ 20
    elements. Collapsing the phases into one groupBy would buffer the
    hot term's full posting list in the aggregation state first — the
    classic inverted-index OOM at scale.
    """
    from gov_data_pipeline_spark.functions.textstats import term_rows

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = term_rows(docs, "doc_id", F.col("text")).distinct()
    banded = (
        pairs.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 20))
    )
    return (
        pairs.join(banded, "term")
        .groupBy("term", "df")
        .agg(
            F.array_join(
                # native array<string> cast (r13) — the element-wise
                # cast lambda was an interpreted higher-order function
                F.sort_array(F.collect_list("doc_id")).cast(
                    "array<string>"
                ),
                ",",
            ).alias("postings")
        )
        .orderBy("term")
    )


_Q95_SQL = r"""
WITH pairs AS (
  SELECT DISTINCT * FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
    FROM documents) WHERE term <> ''),
banded AS (
  SELECT term, count(*) AS df FROM pairs
  GROUP BY term HAVING count(*) BETWEEN 2 AND 20)
SELECT term, df,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
FROM pairs JOIN banded USING (term)
GROUP BY term, df
ORDER BY term
"""


# ---------------------------------------------------------------------------
# q96 — exact rank-based winsorization (p05/p95 clamp per group).
# ---------------------------------------------------------------------------


def q96_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamp l_extendedprice to its per-returnflag [p05, p95] band and
    re-aggregate. The percentile is defined by RANK, not interpolation:
    the value at row_number floor((n-1)*p)+1 under a fully tie-broken
    sort — bit-identical in any engine, which interpolated quantiles
    (ulp-sensitive) are not.

    The ranked pass exists only to surface 2 rows per group; the clamp
    joins those tiny bounds back (broadcast) onto the unsorted scan. At
    100 TB the ranked pass is the one you replace with
    approx_percentile (q26's sketch family) — the clamp stage is
    already the scale shape.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wo = W.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wall = W.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("cnt"),
    )
    lo_rank = F.floor((F.col("cnt") - 1) * 5 / 100) + 1
    hi_rank = F.floor((F.col("cnt") - 1) * 95 / 100) + 1
    bounds = (
        ranked.filter((F.col("rn") == lo_rank) | (F.col("rn") == hi_rank))
        .groupBy("l_returnflag")
        .agg(
            F.min(
                F.when(F.col("rn") == lo_rank, F.col("l_extendedprice"))
            ).alias("lo"),
            F.max(
                F.when(F.col("rn") == hi_rank, F.col("l_extendedprice"))
            ).alias("hi"),
        )
    )
    clamped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(clamped), 2).alias("sum_winsorized"),
            F.round(F.min("lo"), 2).alias("p05"),
            F.round(F.max("hi"), 2).alias("p95"),
        )
        .orderBy("l_returnflag")
    )


_Q96_SQL = """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS cnt
  FROM lineitem),
bounds AS (
  SELECT l_returnflag,
         min(CASE WHEN rn = floor((cnt - 1) * 5 / 100) + 1
                  THEN l_extendedprice END) AS lo,
         max(CASE WHEN rn = floor((cnt - 1) * 95 / 100) + 1
                  THEN l_extendedprice END) AS hi
  FROM ranked GROUP BY l_returnflag)
SELECT l.l_returnflag,
       count(*) AS n_items,
       round(sum(least(greatest(l.l_extendedprice, b.lo), b.hi)), 2)
         AS sum_winsorized,
       round(min(b.lo), 2) AS p05,
       round(max(b.hi), 2) AS p95
FROM lineitem l JOIN bounds b USING (l_returnflag)
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


# ---------------------------------------------------------------------------
# q97 — hypertable rollup: hour -> day -> grand-total over events.
# ---------------------------------------------------------------------------


def q97_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time rollup (the continuous-aggregate /
    hypertable pattern): hourly leaves, daily subtotals, grand total in
    ONE pass — rollup reuses the hourly partials for the coarser
    levels, so the event stream is read and shuffled once, not once
    per granularity.

    ``lvl`` is computed explicitly as grouping(day)*2 + grouping(hr)
    (0 = hourly leaf, 1 = daily subtotal, 3 = grand total) so the
    grouping-bit convention can never diverge between engines; null
    bucket keys are coalesced to the epoch in the sort so both engines
    order identically (Spark sorts NULL first, DuckDB last).
    """
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "value",
    )
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp")
    return (
        ev.rollup("day", "hr")
        .agg(
            (F.grouping("day") * 2 + F.grouping("hr")).alias("lvl"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select("lvl", "day", "hr", "n_events", "sum_value")
        .orderBy("lvl", F.coalesce("day", epoch), F.coalesce("hr", epoch))
    )


_Q97_SQL = """
SELECT grouping(day) * 2 + grouping(hr) AS lvl,
       day, hr,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM (SELECT date_trunc('day', ts) AS day,
             date_trunc('hour', ts) AS hr,
             value
      FROM events)
GROUP BY ROLLUP (day, hr)
ORDER BY lvl,
         coalesce(day, TIMESTAMP '1970-01-01 00:00:00'),
         coalesce(hr, TIMESTAMP '1970-01-01 00:00:00')
"""


# ---------------------------------------------------------------------------
# q98 — point-in-time join of facts to the SCD-2 dimension history.
# ---------------------------------------------------------------------------


def q98_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store PIT join: attribute every shipped lineitem to the
    order-priority version that was CURRENT for its customer on the
    ship date (q91's SCD-2 history is the dimension). This is the join
    that keeps a training set leakage-free — a fact must never see a
    dimension version from its future.

    Implemented as a backward as-of join (union-tag + last-ignorenulls,
    ``operators/relational.py:19``): ONE shuffle on the customer key,
    linear in facts + versions. The DuckDB oracle runs the textbook
    interval join (from <= ts < to) instead — the hash-match proves the
    as-of formulation equivalent, and the as-of one is the shape that
    survives 100 TB, where interval joins row-explode on hot keys.

    Empty intervals (two priority changes on one date — the later
    o_orderkey wins under q91's tiebreak) are dropped before the join,
    which makes (key, effective_from) unique, so the as-of match is
    deterministic without any struct tiebreak.
    """
    from gov_data_pipeline_spark.operators.relational import asof_join, scd2_history

    orders = _t(spark, sf_dir, "orders")
    changelog = orders.select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    hist = scd2_history(
        changelog,
        key_cols=["o_custkey"],
        attr_cols=["o_orderpriority"],
        ts_col="o_orderdate",
        tiebreak_cols=["o_orderkey"],
    ).filter(
        F.col("effective_to").isNull()
        | (F.col("effective_to") > F.col("effective_from"))
    )
    facts = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate", "l_extendedprice")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "l_shipdate", "l_extendedprice")
    )
    joined = asof_join(
        facts,
        hist.select("o_custkey", "effective_from", "o_orderpriority"),
        on="o_custkey",
        left_time="l_shipdate",
        right_time="effective_from",
        right_values=["o_orderpriority"],
    )
    return (
        joined.filter(F.col("asof_o_orderpriority").isNotNull())
        .groupBy(F.col("asof_o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("priority")
    )


_Q98_SQL = """
WITH flagged AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         lag(o_orderpriority) OVER w AS prev_attr,
         lag(o_orderdate) OVER w AS prev_ts
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
versions AS (
  SELECT * FROM flagged
  WHERE prev_ts IS NULL OR prev_attr IS DISTINCT FROM o_orderpriority),
hist AS (
  SELECT o_custkey, o_orderpriority,
         o_orderdate AS effective_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey)
           AS effective_to
  FROM versions),
live AS (
  SELECT * FROM hist
  WHERE effective_to IS NULL OR effective_to > effective_from),
facts AS (
  SELECT o.o_custkey, l.l_shipdate, l.l_extendedprice
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT h.o_orderpriority AS priority,
       count(*) AS n_items,
       round(sum(f.l_extendedprice), 2) AS revenue
FROM facts f
JOIN live h
  ON f.o_custkey = h.o_custkey
 AND f.l_shipdate >= h.effective_from
 AND (h.effective_to IS NULL OR f.l_shipdate < h.effective_to)
GROUP BY h.o_orderpriority
ORDER BY priority
"""


# ---------------------------------------------------------------------------
# q99 — hybrid retrieval: reciprocal-rank fusion of lexical + vector.
# ---------------------------------------------------------------------------


def q99_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style hybrid retrieval: for each of 5 query documents, rank
    the corpus lexically (distinct-term overlap) and by embedding
    cosine, truncate both lists at 50, and fuse with reciprocal-rank
    fusion (rrf = Σ 1/(60+rank), the standard k=60 constant); missing
    from a list contributes 0. Top-10 per query by the ROUNDED fused
    score, ties broken by id — fully deterministic in both engines.

    Scale shape: the lexical arm is a term equi-join bounded by the
    query side's vocabulary (5 docs); the vector arm is the brute
    broadcast tier (5-row query side — the documented ``cosine_topk``
    regime; a large query set would swap in ``ann_topk``, same output
    contract). Fusion is a full-outer join of two ≤50-row-per-query
    lists — driver-scale data, executor-side plan.
    """
    from gov_data_pipeline_spark.functions.textstats import term_rows
    from gov_data_pipeline_spark.operators.relational import top_k_per_group
    from gov_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        embedding_dim,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = docs.join(emb, docs.doc_id == emb.vec_id).select(
        F.col("doc_id").alias("id"), "text", "embedding"
    )
    dim = embedding_dim(emb, "embedding")

    toks = term_rows(corpus, "id", F.col("text")).distinct()
    qt = toks.filter(F.col("id") < 5).select(F.col("id").alias("qid"), "term")
    ov = qt.join(toks, "term").groupBy("qid", "id").agg(
        F.count(F.lit(1)).alias("overlap")
    )
    lex = top_k_per_group(
        ov, ["qid"], [F.col("overlap").desc(), F.col("id").asc()], 50, "lex_rk"
    ).select("qid", "id", "lex_rk")

    qv = corpus.filter(F.col("id") < 5).select(
        F.col("id").alias("qid"), "embedding"
    )
    vec = cosine_topk(
        qv, corpus.select("id", "embedding"), "qid", "id",
        "embedding", "embedding", k=50, exclude_self=False, dim=dim,
    ).select("qid", F.col("neighbor_id").alias("id"), F.col("rk").alias("vec_rk"))

    fused = lex.join(vec, ["qid", "id"], "full_outer").select(
        "qid",
        "id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lex_rk")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("vec_rk")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return (
        top_k_per_group(
            fused, ["qid"], [F.col("rrf").desc(), F.col("id").asc()], 10, "rk"
        )
        .select("qid", "id", "rrf", F.col("rk").cast("int").alias("rk"))
        .orderBy("qid", "rk")
    )


_Q99_SQL = r"""
WITH corpus AS (
  SELECT d.doc_id AS id, d.text, CAST(e.embedding AS DOUBLE[]) AS emb
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
toks AS (
  SELECT DISTINCT * FROM (
    SELECT id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
    FROM corpus) WHERE term <> ''),
qt AS (SELECT id AS qid, term FROM toks WHERE id < 5),
ov AS (
  SELECT qt.qid, t.id, count(*) AS overlap
  FROM qt JOIN toks t USING (term)
  GROUP BY qt.qid, t.id),
lex AS (
  SELECT qid, id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY overlap DESC, id) AS lex_rk
  FROM ov QUALIFY lex_rk <= 50),
qv AS (SELECT id AS qid, emb FROM corpus WHERE id < 5),
sim AS (
  SELECT qv.qid, c.id,
         round(list_cosine_similarity(qv.emb, c.emb), 4) AS cs
  FROM qv CROSS JOIN corpus c),
vec AS (
  SELECT qid, id,
         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, id) AS vec_rk
  FROM sim QUALIFY vec_rk <= 50),
fused AS (
  SELECT coalesce(l.qid, v.qid) AS qid, coalesce(l.id, v.id) AS id,
         round(coalesce(1.0 / (60 + l.lex_rk), 0)
               + coalesce(1.0 / (60 + v.vec_rk), 0), 6) AS rrf
  FROM lex l FULL OUTER JOIN vec v ON l.qid = v.qid AND l.id = v.id)
SELECT qid, id, rrf,
       CAST(row_number() OVER (PARTITION BY qid
                               ORDER BY rrf DESC, id) AS INT) AS rk
FROM fused QUALIFY rk <= 10
ORDER BY qid, rk
"""


# ---------------------------------------------------------------------------
# q100 — dataset mixture: cap any one source's share via hash sampling.
# ---------------------------------------------------------------------------


def q100_source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: no source may contribute more than ~1/40 of
    the corpus. Keep-rate per source = min(1, cap/n_s), applied as
    deterministic md5-bucket membership — and the comparison is PURE
    INTEGER (``bucket * n_s < cap * 256``), so no float rounding can
    ever disagree between engines or change a document's fate between
    runs.

    Two-phase broadcast shape: the per-source counts (tiny) broadcast
    back over the scan; the corpus itself crosses no exchange before
    the filter. This is the op that implements training-mixture weights
    at 100 TB — upsampling is the same arithmetic with buckets > 256.
    """
    from gov_data_pipeline_spark.functions.sampling import hash_bucket_col

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    total = counts.agg(F.sum("n_s").alias("total"))
    cap = F.floor(F.col("total") / 40) + 1
    return (
        docs.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(total))
        .filter(
            hash_bucket_col(F.col("doc_id")).cast("long") * F.col("n_s")
            < cap * 256
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


_Q100_SQL = """
WITH counts AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
t AS (SELECT sum(n_s) AS total FROM counts)
SELECT d.doc_id, d.source
FROM documents d
JOIN counts c ON d.source = c.source
CROSS JOIN t
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2))::INT AS BIGINT)
      * c.n_s < (floor(t.total / 40) + 1) * 256
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# q101 — source-level quality gate (drop whole low-quality sources).
# ---------------------------------------------------------------------------


def q101_source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-reputation filtering: a document survives only if its
    SOURCE's mean quality score clears the corpus-wide mean — the
    domain-level curation pass that catches low-quality providers whose
    individual documents each squeak past per-doc thresholds.

    Same two-phase broadcast shape as q93/q100: one tiny per-source
    aggregate plus one 1-row global aggregate broadcast back over the
    scan. Means are rounded to 6 decimals on BOTH sides before the
    comparison so the gate is engine-portable.
    """
    from gov_data_pipeline_spark.functions.textstats import quality_score_col

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score_col(F.col("text")).alias("q")
    )
    src = docs.groupBy("source").agg(F.round(F.avg("q"), 6).alias("src_quality"))
    glob = docs.agg(F.round(F.avg("q"), 6).alias("global_quality"))
    return (
        docs.join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(glob))
        .filter(F.col("src_quality") >= F.col("global_quality"))
        .select("doc_id", "source", "src_quality")
        .orderBy("doc_id")
    )


_Q101_SQL = r"""
WITH scored AS (
  SELECT doc_id, source,
         round(0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
             + 0.3 * (1.0 - least(len(regexp_extract_all(text, '[^\p{L}\p{N}_\s]'))
                                  / greatest(CAST(length(text) AS DOUBLE), 1.0) * 5.0, 1.0))
             + 0.3 * least(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                           w -> w IN ('the','a','an','of','and','to','in','is')))
                           / greatest(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE), 1.0)
                           * 4.0, 1.0), 4) AS q
  FROM documents),
src AS (SELECT source, round(avg(q), 6) AS src_quality FROM scored GROUP BY source),
gstats AS (SELECT round(avg(q), 6) AS global_quality FROM scored)
SELECT s.doc_id, s.source, c.src_quality
FROM scored s
JOIN src c ON s.source = c.source
CROSS JOIN gstats g
WHERE c.src_quality >= g.global_quality
ORDER BY s.doc_id
"""


# ---------------------------------------------------------------------------
# q104 — text -> deterministic embedding -> cosine top-k, end-to-end.
# ---------------------------------------------------------------------------


def q104_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full embed-then-search pipeline as one oracle-checked query:
    documents are embedded with the deterministic hash featurizer
    (``functions/embedding.hash_embedding_col`` — the stand-in whose
    mapInPandas slot a real encoder fills) and the 3 lowest-id docs
    retrieve their top-5 neighbors by exact cosine. Proves the
    embedding plumbing (schema, generation, downstream operator
    compatibility) against DuckDB end-to-end; components are exact
    multiples of 1/1000, so parity is exact."""
    from gov_data_pipeline_spark.functions.embedding import hash_embedding_col
    from gov_data_pipeline_spark.operators.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", hash_embedding_col(F.col("text"), dim=8).alias("emb")
    )
    queries = docs.filter(F.col("doc_id") < 3)
    return cosine_topk(
        queries, docs, "doc_id", "doc_id", "emb", "emb", k=5, dim=8
    ).orderBy("doc_id", "rk")


_Q104_SQL = """
WITH emb AS (
  SELECT doc_id,
         [ (('0x' || substr(md5(text || ':' || j), 1, 8))::BIGINT % 2000
            - 1000) / 1000.0
           FOR j IN range(8) ] AS emb
  FROM documents),
scored AS (
  SELECT q.doc_id, c.doc_id AS neighbor_id,
         round(list_cosine_similarity(q.emb, c.emb), 4) AS cosine_sim
  FROM emb q JOIN emb c ON q.doc_id <> c.doc_id
  WHERE q.doc_id < 3),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY cosine_sim DESC, neighbor_id) AS rk
  FROM scored)
SELECT doc_id, neighbor_id, cosine_sim, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 5
ORDER BY doc_id, rk
"""


# ---------------------------------------------------------------------------
# q105 — corpus snapshot diff (added / removed / changed).
# ---------------------------------------------------------------------------


def q105_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions: full-outer join on
    the document key comparing content digests — the audit op behind
    incremental re-training decisions ("what actually changed since
    the last dump?"). The new version is synthesized in-query so both
    engines diff identical snapshots: every 97th doc deleted, every
    101st doc's text modified, every 103rd doc re-added under a new
    id. Digests reduce each side to (id, sha) BEFORE the join — at
    100 TB the join shuffles hashes, never document bytes."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.select("doc_id", F.sha2(F.col("text"), 256).alias("h_old"))
    base = docs.filter(F.col("doc_id") % 97 != 0)
    changed = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 101 == 0, F.concat(F.col("text"), F.lit(" [v2]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    # Added ids live in a provably disjoint id space: offset by
    # max(doc_id)+1 from the data, not a constant a big corpus could
    # collide with.
    off = docs.agg((F.max("doc_id") + 1).alias("__off"))
    added = (
        docs.filter(F.col("doc_id") % 103 == 0)
        .crossJoin(F.broadcast(off))
        .select((F.col("doc_id") + F.col("__off")).alias("doc_id"), "text")
    )
    new = changed.unionByName(added).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("h_new")
    )
    return (
        old.join(new, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.when(F.col("h_old").isNull(), F.lit("added"))
            .when(F.col("h_new").isNull(), F.lit("removed"))
            .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
        )
        .filter(F.col("status") != "unchanged")
        .orderBy("doc_id")
    )


_Q105_SQL = """
WITH old AS (
  SELECT doc_id, sha256(text) AS h_old FROM documents),
changed AS (
  SELECT doc_id,
         CASE WHEN doc_id % 101 = 0 THEN text || ' [v2]' ELSE text END AS text
  FROM documents WHERE doc_id % 97 <> 0),
added AS (
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
  FROM documents
  WHERE doc_id % 103 = 0),
new AS (
  SELECT doc_id, sha256(text) AS h_new FROM changed
  UNION ALL
  SELECT doc_id, sha256(text) AS h_new FROM added)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.h_old IS NULL THEN 'added'
            WHEN n.h_new IS NULL THEN 'removed'
            WHEN o.h_old <> n.h_new THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
WHERE (CASE WHEN o.h_old IS NULL THEN 'added'
            WHEN n.h_new IS NULL THEN 'removed'
            WHEN o.h_old <> n.h_new THEN 'changed'
            ELSE 'unchanged' END) <> 'unchanged'
ORDER BY doc_id
"""


def q201_corpus_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot corpus maintenance — the VACUUM report a weekly
    re-scrape pipeline runs before deciding what to rewrite (reference
    ancestor: ``main.py:38-51`` writes a fresh unified file per run
    with no notion of what changed; this is the op that makes that
    incremental). Composes q105's digest diff with the exact-dedup
    index semantics of ``streaming/ingest.incremental_dedup_sink``:
    snapshot B is synthesized from A exactly as q105 (every 97th doc
    deleted, every 101st modified, every 103rd re-added under a fresh
    id), and the report emits, PER SOURCE:

    - ``n_old`` / ``n_new`` — snapshot sizes,
    - ``n_added`` / ``n_removed`` / ``n_changed`` — the digest diff,
    - ``n_redup`` — added docs whose content digest ALREADY exists in
      snapshot A: exactly the rows the incremental exact-dedup sink's
      digest sidecar would reject on ingest (the even-id re-adds are
      byte-identical re-scrapes, the odd-id re-adds carry new content
      — n_redup strictly partitions n_added; the sink equivalence is
      pinned by the integration test in tests/test_streaming_ingest.py),
    - ``chars_new`` — post-vacuum corpus payload,
    - ``n_target_files`` — q151's byte-target compaction rule applied
      per source (``ceil(chars_new / 64 KiB)``, floor 1 — the fixture-
      scale stand-in for 256 MiB target files),
    - ``vacuum_rewrite`` — rewrite decision: churn (removed+changed)
      of >= 20% of the old snapshot marks the source for compaction
      (below that, appending deltas beats rewriting the partition).

    Scale shape: both sides reduce to (id, source, sha256, length)
    BEFORE any join — the full-outer diff join and the redup digest
    join shuffle 32-byte hashes, never document bytes; the report is
    one tiny per-source hash-aggregate. All outputs are
    integers/booleans — no float-ordering hazard.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    old = docs.select(
        "doc_id",
        F.col("source").alias("__src_old"),
        F.sha2(F.col("text"), 256).alias("h_old"),
    )
    base = docs.filter(F.col("doc_id") % 97 != 0)
    changed = base.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 101 == 0, F.concat(F.col("text"), F.lit(" [v2]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    off = docs.agg((F.max("doc_id") + 1).alias("__off"))
    # Half the re-adds are byte-identical re-scrapes (the sink rejects
    # them); the odd-id half carry genuinely new content — so n_redup
    # strictly partitions n_added instead of trivially equalling it.
    added = (
        docs.filter(F.col("doc_id") % 103 == 0)
        .crossJoin(F.broadcast(off))
        .select(
            (F.col("doc_id") + F.col("__off")).alias("doc_id"),
            "source",
            F.when(
                F.col("doc_id") % 2 == 1,
                F.concat(F.col("text"), F.lit(" [rescrape]")),
            ).otherwise(F.col("text")).alias("text"),
        )
    )
    new = changed.unionByName(added).select(
        "doc_id",
        F.col("source").alias("__src_new"),
        F.sha2(F.col("text"), 256).alias("h_new"),
        F.length("text").alias("__chars_new"),
    )
    a_digests = (
        old.select(F.col("h_old").alias("h_new")).distinct()
        .withColumn("__in_a", F.lit(1))
    )
    j = (
        old.join(new, "doc_id", "full_outer")
        .withColumn(
            "status",
            F.when(F.col("h_old").isNull(), F.lit("added"))
            .when(F.col("h_new").isNull(), F.lit("removed"))
            .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
            .otherwise(F.lit("unchanged")),
        )
        .join(a_digests, "h_new", "left")
        .select(
            F.coalesce(F.col("__src_new"), F.col("__src_old")).alias(
                "source"
            ),
            "status",
            (
                (F.col("status") == "added") & F.col("__in_a").isNotNull()
            ).alias("__redup"),
            F.coalesce(F.col("__chars_new"), F.lit(0)).alias("__chars"),
        )
    )
    agg = j.groupBy("source").agg(
        F.sum(F.when(F.col("status") != "added", 1).otherwise(0)).alias(
            "n_old"
        ),
        F.sum(F.when(F.col("status") != "removed", 1).otherwise(0)).alias(
            "n_new"
        ),
        F.sum(F.when(F.col("status") == "added", 1).otherwise(0)).alias(
            "n_added"
        ),
        F.sum(F.when(F.col("status") == "removed", 1).otherwise(0)).alias(
            "n_removed"
        ),
        F.sum(F.when(F.col("status") == "changed", 1).otherwise(0)).alias(
            "n_changed"
        ),
        F.sum(F.when(F.col("__redup"), 1).otherwise(0)).alias("n_redup"),
        F.sum("__chars").alias("chars_new"),
    )
    return agg.select(
        "source",
        "n_old",
        "n_new",
        "n_added",
        "n_removed",
        "n_changed",
        "n_redup",
        F.col("chars_new").cast("long").alias("chars_new"),
        F.greatest(
            F.lit(1), F.ceil(F.col("chars_new") / F.lit(65536))
        ).cast("long").alias("n_target_files"),
        (
            (F.col("n_removed") + F.col("n_changed")) * 5 >= F.col("n_old")
        ).alias("vacuum_rewrite"),
    ).orderBy("source")


_Q201_SQL = """
WITH old AS (
  SELECT doc_id, source AS src_old, sha256(text) AS h_old FROM documents),
changed AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 101 = 0 THEN text || ' [v2]' ELSE text END AS text
  FROM documents WHERE doc_id % 97 <> 0),
added AS (
  SELECT orig_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
         source, text
  FROM (SELECT doc_id AS orig_id, source,
               CASE WHEN doc_id % 2 = 1 THEN text || ' [rescrape]'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 103 = 0)),
new AS (
  SELECT doc_id, source AS src_new, sha256(text) AS h_new,
         length(text) AS chars_new
  FROM (SELECT * FROM changed UNION ALL SELECT * FROM added)),
a_dig AS (SELECT DISTINCT h_old AS h_new, 1 AS in_a FROM old),
j AS (
  SELECT coalesce(n.src_new, o.src_old) AS source,
         CASE WHEN o.h_old IS NULL THEN 'added'
              WHEN n.h_new IS NULL THEN 'removed'
              WHEN o.h_old <> n.h_new THEN 'changed'
              ELSE 'unchanged' END AS status,
         (o.h_old IS NULL AND a.in_a IS NOT NULL) AS redup,
         coalesce(n.chars_new, 0) AS chars
  FROM old o
  FULL OUTER JOIN new n ON o.doc_id = n.doc_id
  LEFT JOIN a_dig a ON a.h_new = n.h_new),
agg AS (
  SELECT source,
         sum(CASE WHEN status <> 'added' THEN 1 ELSE 0 END) AS n_old,
         sum(CASE WHEN status <> 'removed' THEN 1 ELSE 0 END) AS n_new,
         sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS n_added,
         sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS n_removed,
         sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS n_changed,
         sum(CASE WHEN redup THEN 1 ELSE 0 END) AS n_redup,
         sum(chars) AS chars_new
  FROM j GROUP BY source)
SELECT source,
       CAST(n_old AS BIGINT) AS n_old,
       CAST(n_new AS BIGINT) AS n_new,
       CAST(n_added AS BIGINT) AS n_added,
       CAST(n_removed AS BIGINT) AS n_removed,
       CAST(n_changed AS BIGINT) AS n_changed,
       CAST(n_redup AS BIGINT) AS n_redup,
       CAST(chars_new AS BIGINT) AS chars_new,
       CAST(greatest(1, ceil(chars_new / 65536.0)) AS BIGINT)
         AS n_target_files,
       (n_removed + n_changed) * 5 >= n_old AS vacuum_rewrite
FROM agg ORDER BY source
"""


# ---------------------------------------------------------------------------
# q107 — deterministic negative sampling for contrastive pairs.
# ---------------------------------------------------------------------------


def q107_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training negatives: every document gets 3
    pseudo-random negative partners, chosen by Knuth-hash arithmetic
    (``(doc_id * 2654435761 + j + 1) mod N``) — reproducible on any
    engine/cluster with zero stored state, and verified real by an
    inner join back to the corpus (a gapped id space simply yields
    fewer negatives; densify ids first with the q83 zipWithIndex
    ingest when exact-k matters). Self-pairs are excluded.

    Shape: one tiny count broadcast, a projection computing candidate
    ids, and one equi-join against the (id)-projected corpus — linear,
    shuffle-on-id. Overflow posture (r13, caught by the sf1.0 sweep —
    raw ``doc_id * 2654435761`` wraps int64 once ids pass ~3.5e9, and
    under ANSI mode that is a job-killing ARITHMETIC_OVERFLOW, not a
    silent wrap): both factors are reduced mod N BEFORE the multiply —
    identical output by modular arithmetic wherever the raw form
    didn't overflow (q131's id-squaring fix, same rule), and safe for
    any id magnitude as long as the corpus itself has < 2^31 rows
    (residues < N ⇒ product < N² < 2^62); a larger corpus densifies
    ids first (q83) which also re-bounds N.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    cands = (
        docs.crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("j"),
            F.col("n"),
        )
        .select(
            "doc_id",
            "j",
            F.pmod(
                F.pmod(F.col("doc_id"), F.col("n"))
                * F.pmod(F.lit(2654435761), F.col("n"))
                + F.col("j")
                + 1,
                F.col("n"),
            ).alias("neg_id"),
        )
        .filter(F.col("neg_id") != F.col("doc_id"))
    )
    real = docs.select(F.col("doc_id").alias("neg_id"))
    return cands.join(real, "neg_id").select(
        "doc_id", "j", "neg_id"
    ).orderBy("doc_id", "j")


_Q107_SQL = """
WITH n AS (SELECT count(*) AS n FROM documents),
cands AS (
  SELECT d.doc_id, j.j,
         (((d.doc_id % n.n) * (2654435761 % n.n) + j.j + 1) % n.n + n.n)
           % n.n AS neg_id
  FROM documents d CROSS JOIN n CROSS JOIN range(3) j(j)),
flt AS (SELECT * FROM cands WHERE neg_id <> doc_id)
SELECT f.doc_id, f.j, f.neg_id
FROM flt f JOIN documents r ON f.neg_id = r.doc_id
ORDER BY f.doc_id, f.j
"""



# ---------------------------------------------------------------------------
# q120 — per-document token entropy (boilerplate gate) by source.
# ---------------------------------------------------------------------------


def q120_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution, rolled up
    per source — the boilerplate detector: templated/repetitive pages
    score low entropy while natural prose scores high, so a source
    whose average entropy collapses is shipping generated sludge.

    One explode → (doc, term) count → per-doc aggregate chain (the
    q94/q95 shuffle shape: tokens cross the exchange once). Entropy
    comes out of ONE aggregate via H = ln(N) − Σ c·ln(c) / N, so no
    per-doc two-pass is needed; the per-source rollup then moves one
    row per document. Tokenizer = the shared `term_rows` (empty terms
    dropped, DuckDB mirror in lockstep).
    """
    from gov_data_pipeline_spark.functions.textstats import term_rows

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = term_rows(docs, "doc_id", F.col("text"))
    counts = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    ent = counts.groupBy("doc_id").agg(
        (
            F.log(F.sum("c"))
            - F.sum(F.col("c") * F.log("c")) / F.sum("c")
        ).alias("h")
    )
    return (
        ent.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("h"), 4).alias("avg_entropy"),
            F.sum(F.when(F.col("h") < 4.0, 1).otherwise(0)).alias("n_low"),
        )
        .orderBy("source")
    )


_Q120_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents),
counts AS (
  SELECT doc_id, term, count(*) AS c
  FROM toks WHERE term <> '' GROUP BY doc_id, term),
ent AS (
  SELECT doc_id, ln(sum(c)) - sum(c * ln(c)) / sum(c) AS h
  FROM counts GROUP BY doc_id)
SELECT d.source,
       count(*) AS n_docs,
       round(avg(e.h), 4) AS avg_entropy,
       CAST(sum(CASE WHEN e.h < 4.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
FROM ent e JOIN documents d ON e.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""


# ---------------------------------------------------------------------------
# q121 — Zipf rank-frequency slope per language (vocabulary health).
# ---------------------------------------------------------------------------


def q121_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit ln(freq) ~ ln(rank) over each language's top-500 terms — the
    Zipf health check: natural language sits near slope −1, while
    scraped boilerplate, key-value dumps, or deduplication bugs bend
    the curve. Composes the shared tokenizer, a vocabulary aggregate,
    a per-language ranking window over vocabulary-sized data (never
    documents), and the q119 OLS aggregates.

    Rank ties are fully broken (count desc, then term), so both
    engines rank identically; the regression inputs ln(freq)/ln(rank)
    are then bit-identical.
    """
    from gov_data_pipeline_spark.functions.textstats import term_rows

    # The vocabulary only needs (lang, term): tokenize keyed by lang
    # directly (term_rows takes any id column) instead of exploding by
    # doc_id and joining lang back on — that join probed every token
    # row and re-scanned documents; carrying lang through the explode
    # deletes both (guide §1.2/§2.4; same device as q97's by-source
    # call). Identical (lang, term) multiset, so vocab is unchanged.
    docs = _t(spark, sf_dir, "documents").select("lang", "text")
    toks = term_rows(docs, "lang", F.col("text"))
    vocab = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("lang").orderBy(F.col("cnt").desc(), "term")
    ranked = vocab.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 500
    )

    def _nn(c):
        return F.nanvl(c, F.lit(None).cast("double"))

    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(
                _nn(F.regr_slope(F.log("cnt"), F.log("rk"))), 4
            ).alias("zipf_slope"),
            F.round(
                _nn(F.regr_r2(F.log("cnt"), F.log("rk"))), 4
            ).alias("r2"),
        )
        .orderBy("lang")
    )


_Q121_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents),
vocab AS (
  SELECT d.lang, t.term, count(*) AS cnt
  FROM toks t JOIN documents d ON t.doc_id = d.doc_id
  WHERE t.term <> ''
  GROUP BY d.lang, t.term),
ranked AS (
  SELECT lang, cnt,
         row_number() OVER (PARTITION BY lang
                            ORDER BY cnt DESC, term) AS rk
  FROM vocab)
SELECT lang,
       count(*) AS n_terms,
       round(regr_slope(ln(cnt), ln(rk)), 4) AS zipf_slope,
       round(regr_r2(ln(cnt), ln(rk)), 4) AS r2
FROM ranked
WHERE rk <= 500
GROUP BY lang
ORDER BY lang
"""

# ---------------------------------------------------------------------------
# q139 — mixture construction under per-source character budgets: the
# data-mixing step that assembles a training corpus from N sources with
# per-source quotas. Docs are ranked by a stable hash (an unbiased,
# re-ingest-deterministic shuffle — same device as q65/q69/q115) and a
# running prefix sum keeps each source's docs while cumulative chars
# stay within 40% of that source's total. The 40% fraction is applied
# as exact integer cross-multiplication (cum·5 ≤ tot·2): no float
# boundary can disagree between engines or retries.
#
# Scale shape: per-source totals are a tiny aggregate broadcast back
# over the scan; the prefix sum is ONE hash-partition-by-source window
# (the ordered-prefix semantics require it — same unavoidable-shuffle
# argument as q09's ordered concat); the final rollup is a map-side
# partial over the already-source-partitioned rows, so the second
# exchange carries one row per source.
# ---------------------------------------------------------------------------


def q139_char_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.functions.sampling import budget_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    kept = budget_sample(docs, "doc_id", "source", "n_chars", 2, 5)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_kept"),
            F.max("cum").alias("budget_used"),
        )
        .orderBy("source")
    )


_Q139_SQL = """
WITH tot AS (
  SELECT source, sum(n_chars) AS tot FROM documents GROUP BY source),
c AS (
  SELECT d.source, d.n_chars, t.tot,
         sum(d.n_chars) OVER (PARTITION BY d.source
             ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
             ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents d JOIN tot t USING (source))
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_kept,
       CAST(max(cum) AS BIGINT) AS budget_used
FROM c
WHERE cum * 5 <= tot * 2
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# q165 — reproducible eval-set construction: exactly k docs per
# language via the stable md5 rank (functions/sampling.
# stratified_exact_k). q69 keeps a hash FRACTION (count drifts with
# stratum size), q139 fills a size QUOTA; this pins an exact COUNT —
# the held-out-set primitive. One window per stratum, membership a
# pure function of the ids present, so the oracle hashes the exact
# selected rows and ranks.
# ---------------------------------------------------------------------------


def q165_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.functions.sampling import stratified_exact_k

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        stratified_exact_k(docs, "doc_id", "lang", k=20)
        .select("lang", "doc_id", F.col("sample_rank").cast("int").alias("sample_rank"))
        .orderBy("lang", "sample_rank")
    )


_Q165_SQL = """
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT lang, doc_id, CAST(rn AS INT) AS sample_rank
FROM ranked
WHERE rn <= 20
ORDER BY lang, sample_rank
"""


# ---------------------------------------------------------------------------
# q184 — mixture MATERIALIZATION: q174 designs per-source quotas, this
# query actually selects the corpus that satisfies them — exactly
# min(quota_temp, |source|) documents per source, chosen by the stable
# md5 rank (q165's reproducible-membership machinery, here with a
# VARIABLE per-group k delivered by a joined quota table instead of a
# constant). The missing last step of the mixture family: q174 says
# "take 52 from src3", q184 says WHICH 52 — identically on every
# engine, cluster, and re-ingest. Sources whose quota exceeds their
# size keep everything (the small-source regime temperature smoothing
# deliberately over-allocates); the shortfall is visible as
# max(sample_rank) < quota_temp.
#
# Shape at scale: the quota table is source-sized (broadcast); the
# rank is ONE hash-partition-by-source window (each stratum shuffles
# once); nothing else moves. Skew note as in stratified_exact_k: for
# k ≪ |source| at extreme skew, pre-filter to a hash-bucket superset
# before ranking.
# ---------------------------------------------------------------------------


def q184_mixture_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.functions.sampling import (
        stratified_exact_quota,
    )

    quotas = q174_temperature_quota(spark, sf_dir).select(
        "source", "quota_temp"
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        stratified_exact_quota(docs, "doc_id", "source", quotas, "quota_temp")
        .select("doc_id", "source", "sample_rank", "quota_temp")
        .orderBy("source", "sample_rank")
    )


_Q184_SQL = f"""
WITH quotas AS ({_Q174_SQL.replace("ORDER BY source", "")}),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT r.doc_id, r.source, CAST(r.rn AS INT) AS sample_rank, q.quota_temp
FROM ranked r JOIN quotas q USING (source)
WHERE r.rn <= q.quota_temp
ORDER BY r.source, sample_rank
"""


# ---------------------------------------------------------------------------
# q185 — BPE ENCODE with the learned merges: q175 trains the first two
# merge rules; this query applies them to every document and reports
# the per-document token counts before/after and the compression
# delta — the train→apply closure of the tokenizer family (q149/q153
# apply a fixed mock tokenizer, q175 learns rules, q185 encodes with
# the learned rules). The two merge rules are TWO collected rows of
# model state (the q113/q175 convention); application is two
# sequential plain `replace` projections with the verified identical
# left-to-right resume semantics, so both engines produce the same
# encoded stream.
#
# Shape at scale: training is q175's per-round aggregate; encoding is
# a pure projection over one scan — the only exchange is the output
# sort. A real vocabulary (thousands of merges) applies per document
# inside one Arrow-batched kernel instead of chained projections; two
# rules keep the oracle an exact unrolling.
# ---------------------------------------------------------------------------


def q185_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            F.concat(
                F.lit(" "),
                F.array_join(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+"), " "
                ),
                F.lit(" "),
            ).alias("t"),
        )
        .localCheckpoint()
    )

    pair_counts = _adjacent_pair_counts

    cur = base
    for _ in (1, 2):
        top = (
            pair_counts(cur)
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .first()
        )
        if top is None:
            # merge-exhausted round (every doc is one token, or the
            # corpus is empty): NO rule to apply — the encoded stream
            # is unchanged, and the remaining rounds can only be
            # exhausted too. Do NOT return early: per-doc rows must
            # still come out (before == after, n_merged 0 for the
            # survivors). The oracle's CASE WHEN pair IS NULL mirrors
            # this no-op exactly.
            break
        merged = top["pair"].replace(" ", "_")
        cur = cur.select(
            "doc_id",
            F.replace(
                F.col("t"),
                F.lit(f" {top['pair']} "),
                F.lit(f" {merged} "),
            ).alias("t"),
        ).localCheckpoint()

    n_tok = lambda c: F.size(F.split(F.trim(c), " ")).cast("long")  # noqa: E731
    return (
        base.select("doc_id", n_tok(F.col("t")).alias("n_tokens_before"))
        .join(
            cur.select("doc_id", n_tok(F.col("t")).alias("n_tokens_after")),
            "doc_id",
        )
        .select(
            "doc_id",
            "n_tokens_before",
            "n_tokens_after",
            (F.col("n_tokens_before") - F.col("n_tokens_after")).alias(
                "n_merged"
            ),
        )
        .orderBy("doc_id")
    )


_Q185_SQL = r"""
WITH t0 AS (
  SELECT doc_id,
         ' ' || array_to_string(string_split_regex(lower(trim(text)),
                                                   '\s+'), ' ') || ' ' AS t
  FROM documents WHERE length(trim(text)) > 0),
p1 AS (
  SELECT pair, count(*) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i+1])) AS pair
    FROM (SELECT string_split(trim(t), ' ') AS w FROM t0)
    WHERE len(w) >= 2)
  GROUP BY pair),
top1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair ASC LIMIT 1),
t1 AS (
  SELECT doc_id,
         CASE WHEN (SELECT pair FROM top1) IS NULL THEN t
              ELSE replace(t, ' ' || (SELECT pair FROM top1) || ' ',
                   ' ' || replace((SELECT pair FROM top1), ' ', '_') || ' ')
         END AS t
  FROM t0),
p2 AS (
  SELECT pair, count(*) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i+1])) AS pair
    FROM (SELECT string_split(trim(t), ' ') AS w FROM t1)
    WHERE len(w) >= 2)
  GROUP BY pair),
top2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair ASC LIMIT 1),
t2 AS (
  SELECT doc_id,
         CASE WHEN (SELECT pair FROM top2) IS NULL THEN t
              ELSE replace(t, ' ' || (SELECT pair FROM top2) || ' ',
                   ' ' || replace((SELECT pair FROM top2), ' ', '_') || ' ')
         END AS t
  FROM t1)
SELECT t0.doc_id,
       CAST(len(string_split(trim(t0.t), ' ')) AS BIGINT) AS n_tokens_before,
       CAST(len(string_split(trim(t2.t), ' ')) AS BIGINT) AS n_tokens_after,
       CAST(len(string_split(trim(t0.t), ' '))
            - len(string_split(trim(t2.t), ' ')) AS BIGINT) AS n_merged
FROM t0 JOIN t2 USING (doc_id)
ORDER BY t0.doc_id
"""


# ---------------------------------------------------------------------------
# q193 — REAL-TOKENIZER budget counts (the r10 verdict's item #6): per
# document, the token count under an actual mergeable-ranks BPE
# vocabulary (tiktoken semantics: per word, repeatedly merge the
# adjacent pair whose concatenation has the lowest rank — ties
# leftmost — until none is in the vocab), side by side with the mock
# tokenizer's count and their drift. The vocabulary is a fixed 30-entry
# English-digram/trigram table both engines construct from the same
# literal list (rank = list position), exercising MULTI-LEVEL merges
# ('t h'→'th', 'th e'→'the'): real budgets come from real merge
# cascades, and the drift column is the measured gap q153-style
# packing would inherit by budgeting on the mock.
#
# Oracle exactness: DuckDB replays the SAME algorithm with a recursive
# CTE — each step merges exactly ONE pair (the min-rank, leftmost) per
# word, so a word's states form a chain and its final token count is
# min(len(toks)) over the chain. Rank lookup is a map() built from the
# same VALUES list. Fixture text is ASCII, so Python's byte-level
# merge and SQL's char-level merge agree codepoint for codepoint (the
# documented boundary; a multibyte corpus would need a byte-table on
# the SQL side).
#
# Shape at scale: one Arrow-batched crossing for the real count (the
# vocabulary rides the UDF closure — a few MB for a 100k-token vocab,
# deserialized once per long-lived worker), one codegen'd projection
# for the mock; no exchange at all until the output sort. The
# file-format adapter (load_mergeable_ranks / tiktoken format) is
# unit-tested against this same counting kernel.
# ---------------------------------------------------------------------------

_Q193_VOCAB: tuple[str, ...] = (
    "th", "he", "the", "in", "ng", "ing", "an", "nd", "and", "er",
    "ed", "es", "en", "re", "on", "at", "or", "ti", "te", "is",
    "it", "al", "ar", "st", "to", "nt", "of", "ou", "le", "ly",
)


def q193_bpe_ranks_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.functions.tokenizer import (
        bpe_token_count,
        mock_bpe_token_count,
    )

    ranks = {t.encode(): i for i, t in enumerate(_Q193_VOCAB)}
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        docs.select(
            "doc_id",
            bpe_token_count(F.col("text"), ranks).alias("n_tokens_bpe"),
            mock_bpe_token_count(F.col("text")).alias("n_tokens_mock"),
        )
        .withColumn(
            "drift", F.col("n_tokens_bpe") - F.col("n_tokens_mock")
        )
        .orderBy("doc_id")
    )


_Q193_RANKS_SQL = ", ".join(
    f"('{t}', {i})" for i, t in enumerate(_Q193_VOCAB)
)

from gov_data_pipeline_spark.functions.tokenizer import (  # noqa: E402
    MOCK_BPE_SQL as _MOCK_BPE_SQL,
)

_Q193_MOCK = _MOCK_BPE_SQL.format(col="d.text")

# The count CTEs (ranks table -> per-word recursive merge chain ->
# per-doc totals) are shared by q193's report and q195's packer oracle.
_Q193_COUNT_CTES = rf"""
ranks(tok, rank) AS (VALUES {_Q193_RANKS_SQL}),
rmap AS (SELECT map(list(tok), list(rank)) AS m FROM ranks),
words AS (
  SELECT doc_id,
         generate_subscripts(ws, 1) AS w_idx,
         unnest(ws) AS w
  FROM (SELECT doc_id,
               regexp_extract_all(text, '[^ \t\n\f\r]+') AS ws
        FROM documents)),
bpe AS (
  SELECT doc_id, w_idx,
         list_transform(range(1, length(w)::BIGINT + 1),
                        i -> substr(w, i::INT, 1)) AS toks
  FROM words
  UNION ALL
  SELECT doc_id, w_idx,
         list_concat(
           list_concat(toks[1:bi - 1],
                       [toks[bi] || toks[bi + 1]]),
           toks[bi + 2:]) AS toks
  FROM (
    SELECT doc_id, w_idx, toks,
           list_position(prl, list_min(prl)) AS bi,
           list_min(prl) AS mr
    FROM (
      SELECT b.doc_id, b.w_idx, b.toks,
             list_transform(
               range(1, len(b.toks)),
               i -> coalesce(map_extract(r.m, b.toks[i] || b.toks[i + 1])[1],
                             2147483647)) AS prl
      FROM bpe b, rmap r
      WHERE len(b.toks) >= 2))
  WHERE mr < 2147483647),
word_counts AS (
  SELECT doc_id, w_idx, min(len(toks)) AS n
  FROM bpe GROUP BY doc_id, w_idx),
per_doc AS (
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens_bpe
  FROM word_counts GROUP BY doc_id)"""

_Q193_SQL = rf"""
WITH RECURSIVE
{_Q193_COUNT_CTES}
SELECT d.doc_id,
       coalesce(p.n_tokens_bpe, 0) AS n_tokens_bpe,
       CAST({_Q193_MOCK} AS BIGINT) AS n_tokens_mock,
       coalesce(p.n_tokens_bpe, 0) - CAST({_Q193_MOCK} AS BIGINT) AS drift
FROM documents d
LEFT JOIN per_doc p ON p.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# q195 — BUDGET PACK ON REAL-BPE COUNTS: q153's next-fit-decreasing
# packer with the document sizes coming from the q193 mergeable-ranks
# tokenizer instead of the mock — the closure the adapter exists for
# (the r10 verdict: "token budgets that drive real training will be
# wrong vs an actual BPE vocab"; q193 measures the drift, this query
# PACKS on the corrected counts). Same scale shape as q153: the merge
# kernel runs scan-side in one Arrow crossing, the packer then sees
# only (shard, id, n_tokens) rows. The oracle chains the q193 count
# recursion into the q153 fill recursion — two recursive CTEs, one
# WITH RECURSIVE, all-integer.
# ---------------------------------------------------------------------------


def q195_bpe_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gov_data_pipeline_spark.functions.chunking import pack_documents_nfd
    from gov_data_pipeline_spark.functions.sampling import hash_bucket_col
    from gov_data_pipeline_spark.functions.tokenizer import bpe_token_count

    ranks = {t.encode(): i for i, t in enumerate(_Q193_VOCAB)}
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        bpe_token_count(F.col("text"), ranks).alias("n_tokens"),
        (hash_bucket_col(F.col("doc_id")) % 8).cast("int").alias("shard"),
    )
    return pack_documents_nfd(
        docs, "doc_id", "n_tokens", "shard", capacity=512
    ).orderBy("shard", "doc_id")


_Q195_SQL = rf"""
WITH RECURSIVE
{_Q193_COUNT_CTES},
d AS MATERIALIZED (
  SELECT dd.doc_id,
         coalesce(p.n_tokens_bpe, 0) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 2))::INT % 8
              AS INT) AS shard
  FROM documents dd
  LEFT JOIN per_doc p ON p.doc_id = dd.doc_id),
o AS MATERIALIZED (
  SELECT *, CAST(row_number() OVER (PARTITION BY shard
                                    ORDER BY n_tokens DESC, doc_id) AS INT) AS rn
  FROM d),
fill(shard, rn, doc_id, n_tokens, bin, used) AS (
  SELECT shard, rn, doc_id, n_tokens, 1, n_tokens FROM o WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN f.used + t.n_tokens <= 512 THEN f.bin ELSE f.bin + 1 END,
         CASE WHEN f.used + t.n_tokens <= 512 THEN f.used + t.n_tokens
              ELSE t.n_tokens END
  FROM o t JOIN fill f ON t.shard = f.shard AND t.rn = f.rn + 1)
SELECT shard, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(bin AS INT) AS bin
FROM fill
ORDER BY shard, doc_id
"""


# ---------------------------------------------------------------------------
# q199 — PACK MANIFEST with positions + token offsets (r12): q195
# answers "which bin does each doc land in"; a training DATA LOADER
# needs one more thing — where inside the packed sequence each
# document STARTS, to cut attention masks / position-id resets at
# document boundaries (the packed-SFT contract). The placement order
# inside a bin is pack_documents_nfd's processing order — (n_tokens
# desc, doc_id) restricted to the bin's members — so position and
# byte-exact token offset are pure WINDOW functions over q195's
# output: pos_in_pack = row_number, tok_offset = running sum minus own
# size, pack_fill = the bin's total. Cost over q195: ONE (shard, bin)
# hash exchange of 4 numeric columns (measured in the executed plan —
# the packer's shard-keyed distribution does not satisfy the finer
# (shard, bin) clustering); document text never rides it. The oracle
# chains the same two recursions and adds identical windows.
# ---------------------------------------------------------------------------


def q199_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    packed = q195_bpe_budget_pack(spark, sf_dir)
    worder = W.partitionBy("shard", "bin").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    wbin = W.partitionBy("shard", "bin")
    return (
        packed.select(
            "shard",
            "bin",
            "doc_id",
            "n_tokens",
            F.row_number().over(worder).cast("int").alias("pos_in_pack"),
            (
                F.sum("n_tokens").over(
                    worder.rowsBetween(W.unboundedPreceding, W.currentRow)
                )
                - F.col("n_tokens")
            ).cast("long").alias("tok_offset"),
            F.sum("n_tokens").over(wbin).cast("long").alias("pack_fill"),
        )
        .orderBy("shard", "bin", "pos_in_pack")
    )


_Q199_SQL = rf"""
WITH RECURSIVE
{_Q193_COUNT_CTES},
d AS MATERIALIZED (
  SELECT dd.doc_id,
         coalesce(p.n_tokens_bpe, 0) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 2))::INT % 8
              AS INT) AS shard
  FROM documents dd
  LEFT JOIN per_doc p ON p.doc_id = dd.doc_id),
o AS MATERIALIZED (
  SELECT *, CAST(row_number() OVER (PARTITION BY shard
                                    ORDER BY n_tokens DESC, doc_id) AS INT) AS rn
  FROM d),
fill(shard, rn, doc_id, n_tokens, bin, used) AS (
  SELECT shard, rn, doc_id, n_tokens, 1, n_tokens FROM o WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN f.used + t.n_tokens <= 512 THEN f.bin ELSE f.bin + 1 END,
         CASE WHEN f.used + t.n_tokens <= 512 THEN f.used + t.n_tokens
              ELSE t.n_tokens END
  FROM o t JOIN fill f ON t.shard = f.shard AND t.rn = f.rn + 1)
SELECT shard, CAST(bin AS INT) AS bin, doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(row_number() OVER (PARTITION BY shard, bin
                               ORDER BY n_tokens DESC, doc_id) AS INT)
         AS pos_in_pack,
       CAST(sum(n_tokens) OVER (PARTITION BY shard, bin
                                ORDER BY n_tokens DESC, doc_id
                                ROWS UNBOUNDED PRECEDING)
            - n_tokens AS BIGINT) AS tok_offset,
       CAST(sum(n_tokens) OVER (PARTITION BY shard, bin) AS BIGINT)
         AS pack_fill
FROM fill
ORDER BY shard, bin, pos_in_pack
"""


QUERIES = {
    "q94_unigram_logprob": q94_unigram_logprob,
    "q171_bigram_logprob": q171_bigram_logprob,
    "q174_temperature_quota": q174_temperature_quota,
    "q175_phrase_merges": q175_phrase_merges,
    "q184_mixture_materialize": q184_mixture_materialize,
    "q185_bpe_encode": q185_bpe_encode,
    "q193_bpe_ranks_count": q193_bpe_ranks_count,
    "q195_bpe_budget_pack": q195_bpe_budget_pack,
    "q199_pack_manifest": q199_pack_manifest,
    "q165_eval_sample": q165_eval_sample,
    "q139_char_budget_mix": q139_char_budget_mix,
    "q143_distinctive_terms": q143_distinctive_terms,
    "q146_epoch_mixture": q146_epoch_mixture,
    "q120_token_entropy": q120_token_entropy,
    "q121_zipf_slope": q121_zipf_slope,
    "q95_inverted_index": q95_inverted_index,
    "q96_winsorize": q96_winsorize,
    "q97_time_rollup": q97_time_rollup,
    "q98_point_in_time_join": q98_point_in_time_join,
    "q99_hybrid_retrieval": q99_hybrid_retrieval,
    "q100_source_cap_sample": q100_source_cap_sample,
    "q101_source_quality_gate": q101_source_quality_gate,
    "q104_embed_topk": q104_embed_topk,
    "q105_corpus_diff": q105_corpus_diff,
    "q107_negative_sampling": q107_negative_sampling,
    "q201_corpus_vacuum": q201_corpus_vacuum,
}

ORACLE = {
    "q94_unigram_logprob": _Q94_SQL,
    "q171_bigram_logprob": _Q171_SQL,
    "q174_temperature_quota": _Q174_SQL,
    "q175_phrase_merges": _Q175_SQL,
    "q184_mixture_materialize": _Q184_SQL,
    "q185_bpe_encode": _Q185_SQL,
    "q193_bpe_ranks_count": _Q193_SQL,
    "q195_bpe_budget_pack": _Q195_SQL,
    "q199_pack_manifest": _Q199_SQL,
    "q165_eval_sample": _Q165_SQL,
    "q139_char_budget_mix": _Q139_SQL,
    "q143_distinctive_terms": _Q143_SQL,
    "q146_epoch_mixture": _Q146_SQL,
    "q120_token_entropy": _Q120_SQL,
    "q121_zipf_slope": _Q121_SQL,
    "q95_inverted_index": _Q95_SQL,
    "q96_winsorize": _Q96_SQL,
    "q97_time_rollup": _Q97_SQL,
    "q98_point_in_time_join": _Q98_SQL,
    "q99_hybrid_retrieval": _Q99_SQL,
    "q100_source_cap_sample": _Q100_SQL,
    "q101_source_quality_gate": _Q101_SQL,
    "q104_embed_topk": _Q104_SQL,
    "q105_corpus_diff": _Q105_SQL,
    "q107_negative_sampling": _Q107_SQL,
    "q201_corpus_vacuum": _Q201_SQL,
}
