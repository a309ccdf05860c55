"""Keyword search / relevance scoring over a document corpus (engine
extension — SURVEY §2.2 L8 family): BM25 relevance and sparse TF-IDF
cosine similarity, expressed as pure DataFrame aggregations so Catalyst
keeps the whole pipeline JVM-side.

The reference has no search operator; a training-data pipeline needs
one for quality filtering ("docs matching these domain keywords") and
retrieval-style dedup triage. Design for scale:

- tokens explode once; **query-term filtering happens before the
  aggregate**, so only rows for the handful of query terms ever reach
  a shuffle (the full token stream is reduced map-side to per-doc
  lengths only);
- document frequencies for the query terms are a tiny aggregate,
  broadcast back into the scoring join;
- scores use the Lucene BM25 form
  ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``,
  ``tf_norm = tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl))``.

Ranking is on the 4-decimal-rounded score (ties broken by doc id) so
ordering is reproducible across engines — the DuckDB oracle (q68)
replicates every intermediate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _tokens(df: DataFrame, id_col: str, text: Column) -> DataFrame:
    return df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.trim(text)), r"\s+")).alias("term")
    )


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text: Column,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 score for ``query_terms`` (docs matching no
    term are omitted). Returns (id, score) with score rounded to 4
    decimals; rank/limit downstream."""
    toks = _tokens(docs, id_col, text)
    # Per-doc length from the full stream (map-side combinable count),
    # corpus stats as 1-row broadcastable aggregates.
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # document tokens are lowercased by _tokens — normalize the query
    # the same way, or a capitalized query term silently matches nothing
    qt = toks.filter(F.col("term").isin([t.lower() for t in query_terms]))
    tf = qt.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "tf_norm",
            (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.sum(F.col("idf") * F.col("tf_norm")), 4).alias("bm25")
    )


def sparse_cosine_topk(
    term_rows: DataFrame,
    id_col: str = "doc_id",
    term_col: str = "term",
    k: int = 3,
    df_cap: int = 100,
    idf_scale: int = 1000,
) -> DataFrame:
    """All-pairs sparse TF-IDF cosine, top-k neighbors per document —
    the inverted-index similarity join (dense-embedding cosine's
    LEXICAL sibling; no vectors needed, works straight off text).

    Input is the exploded (id, term) stream WITH multiplicity; output
    is (id, neighbor_id, cos_sim, rank) for each document's k nearest
    neighbors in the df-capped TF-IDF vector space.

    Scale design — why this survives 100 TB where naive all-pairs dies:

    - candidates come from the POSTING-LIST self-join on term, so two
      documents are ever compared only if they share a term (one
      shuffle on term, one on the (a, b) pair key for the dot products
      — both map-side combinable);
    - the df cap (terms in more than ``df_cap`` documents leave the
      vector space) bounds every posting list ABSOLUTELY, so per-term
      join fan-out is <= df_cap^2 and total candidate volume is
      <= |vocab| * df_cap^2 — hot "stopword" terms, the quadratic
      killer of similarity joins, never generate pairs. The cap is
      deliberately absolute, not a corpus fraction: a relative cap
      (df <= n/10) silently un-bounds posting lists as the corpus
      grows — measured here, the fixture's 31-word vocabulary put
      every bigram under a 10% cap at sf0.1 and turned the self-join
      into 75M partial products (63 s); the absolute cap runs the
      same SF in seconds and is the form that still means something
      at 100 TB. It is part of the OPERATOR'S SEMANTICS (terms in
      more than df_cap docs carry no similarity signal), not an
      approximation knob, so the result stays exactly oracle-checkable;
    - weights are INTEGER-EXACT: ``idf = (n_docs * idf_scale) div df``
      (fixed-point integer idf), ``w = tf * idf``, and both the dot
      products and the squared norms are int64 sums. The only floats
      are the final ``dot / (sqrt(n2a) * sqrt(n2b))`` — division and
      sqrt of exact integers are correctly-rounded IEEE ops, so the
      score is BIT-IDENTICAL across engines and ranking on it (ties by
      neighbor id) is deterministic everywhere, with no
      summation-order ulps anywhere in the pipeline.

    Each unordered pair is scored once: the posting self-join keeps
    ``a < b`` (half the ordered partial products), the dot and the
    norm joins run on those rows, and one ``inline`` then emits both
    orientations for the per-document rank. The dot is an exact int64
    sum and IEEE multiplication commutes, so the mirrored score is
    bit-identical to scoring (b, a) on its own.

    The postings relation feeds both self-join sides and the norms
    aggregate. It is not persisted, so each consumer re-evaluates it
    from ``term_rows``.

    Overflow audit: w <= tf * n_docs * idf_scale; the int64 sums hold
    while sum(w^2) < 2^63 — with the df cap in place this bounds
    corpus size around n_docs * idf_scale < ~3e9 * sqrt(doc_len),
    far past any single similarity-join shard's document count.
    """
    tf = term_rows.groupBy(id_col, term_col).agg(F.count(F.lit(1)).alias("tf"))
    n_docs = term_rows.select(id_col).distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    dfreq = tf.groupBy(term_col).agg(F.count(F.lit(1)).alias("df"))
    vocab = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .where(F.col("df") <= F.lit(df_cap))
        .select(term_col, F.expr(f"n_docs * {idf_scale} div df").alias("idf"))
    )
    postings = tf.join(vocab, term_col).select(
        id_col, term_col, (F.col("tf") * F.col("idf")).alias("w")
    )
    norms = postings.groupBy(id_col).agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a = postings.select(
        F.col(id_col).alias("__a"), F.col(term_col), F.col("w").alias("__wa")
    )
    b = postings.select(
        F.col(id_col).alias("__b"), F.col(term_col), F.col("w").alias("__wb")
    )
    dots = (
        a.join(b, term_col)
        .where(F.col("__a") < F.col("__b"))
        .groupBy("__a", "__b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("__a"), F.col("n2").alias("__n2a"))
    nb = norms.select(F.col(id_col).alias("__b"), F.col("n2").alias("__n2b"))
    pairs = dots.join(na, "__a").join(nb, "__b").select(
        "__a",
        "__b",
        (
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("__n2a").cast("double"))
                * F.sqrt(F.col("__n2b").cast("double"))
            )
        ).alias("__s"),
    )
    # Both orientations from one row, with no second scan of the pair
    # subtree (a union would plan it twice).
    scored = pairs.select(
        F.inline(
            F.array(
                F.struct(
                    F.col("__a").alias(id_col),
                    F.col("__b").alias("neighbor_id"),
                    "__s",
                ),
                F.struct(
                    F.col("__b").alias(id_col),
                    F.col("__a").alias("neighbor_id"),
                    "__s",
                ),
            )
        )
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy(id_col).orderBy(F.col("__s").desc(), F.col("neighbor_id"))
    )
    return (
        scored.withColumn("rank", rn.cast("long"))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            "neighbor_id",
            F.round(F.col("__s"), 4).alias("cos_sim"),
            "rank",
        )
    )
