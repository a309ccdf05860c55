"""Hashed-feature linear model scoring — the learned quality-filter
shape (fastText / CCNet / FineWeb-style classifiers) at corpus scale.

The heuristic quality signals (``functions/textstats.py``: length,
punctuation, stopword ratios — q47/q48) are rule-based; production
pipelines follow them with a LEARNED filter: a linear model over
hashed bag-of-words features, scored over every document. The model
is millions of documents small — feature_id -> weight — so the Spark
shape is **model-as-a-table**: broadcast the weights DataFrame and
score with one explode + one broadcast join + one sum aggregate, all
whole-stage codegen. No UDF, no Python, no per-row vector object.

Why hashed features: the hashing trick (Weinberger et al., ICML'09)
fixes the feature space at ``n_features`` regardless of vocabulary, so
the weights table never grows with the corpus and the scorer never
needs a vocabulary shuffle — exactly what survives at 100 TB, where
the vocabulary alone would dwarf a broadcast.

Integer fixed-point logits: weights are int64 milli-units and the
logit is an exact int64 sum, so scores — and the keep decision — are
bit-identical across engines, partition orders, and retries. The
sigmoid is deliberately NOT applied: it is monotone, so thresholding
on the logit is thresholding on the probability, and exp() ulps differ
across engines where integer sums cannot.

Hash families mirror the MinHash convention (``operators/dedup.py``):
``xxhash64`` (JVM-fastest) for production, ``md5`` (via ``md5_h1h2``)
when a cross-engine differential oracle runs beside the pipeline —
q164 ships the md5 form so DuckDB reproduces every logit bit-for-bit.

No reference analogue (the reference's enrichment is LLM-per-row,
``utils/openai*.py``); this is SURVEY §2.2 L8 extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from gov_data_pipeline_spark.operators.dedup import md5_h1h2
from gov_data_pipeline_spark.util import pin_partitioned

def _feature_hash(token: Column, n_features: int, hash_family: str) -> Column:
    if hash_family == "md5":
        h1, _ = md5_h1h2(token)
        return F.pmod(h1, F.lit(n_features)).cast("long")
    return F.pmod(F.xxhash64(token), F.lit(n_features)).cast("long")


def canonical_tokens_col(text: Column, token_classes: str = "ascii") -> Column:
    """The scorer's canonical token string — exactly the dedup
    canonicalization (``transforms.canonical_text_col``), shared so
    the scorer and the normalized-dedup key can never drift:
    ``"ascii"`` strips to [A-Za-z0-9] then lowers (blind outside
    Latin); ``"unicode"`` keeps ``\\p{L}\\p{N}`` and folds ASCII case
    only (cross-engine-exact on any script — see the canonical
    docstring); ``"cjk"`` additionally splits Han/kana/Thai characters
    into their own tokens, so the unigram+bigram feature machinery
    yields char-1/2-grams on separator-free scripts instead of one
    sentence-sized token (the r10 verdict's CJK gap). Returns a
    single-space-joined token string; split on ' ' for the token
    array."""
    from gov_data_pipeline_spark.transforms.text import canonical_text_col

    return canonical_text_col(text, token_classes)


def hashed_token_features(
    df: DataFrame,
    id_col: str,
    text: Column,
    n_features: int = 1 << 18,
    bigrams: bool = True,
    hash_family: str = "xxhash64",
    token_classes: str = "ascii",
    carry: list[str] | None = None,
) -> DataFrame:
    """(id, feature_id, tf) hashed bag-of-words rows. ``carry`` names
    extra ``df`` columns to ride the explode and the tf groupBy (they
    must be functionally dependent on ``id_col`` — a per-doc label,
    source, shard); consumers that need per-doc metadata beside the
    features then avoid a separate corpus-sized join back
    (class_count_model uses this for its label).

    Tokens are the whitespace words of the canonical text
    (``canonical_tokens_col``: ASCII strip-then-lower by default, or
    the ``token_classes="unicode"`` ``\\p{L}\\p{N}`` mode for
    multilingual corpora — Cyrillic/CJK documents produce real
    features instead of scoring the intercept), plus adjacent-word
    bigrams when ``bigrams`` — fastText's default feature set. NULL /
    empty / whitespace-only text yields no rows (scorers left-join and
    coalesce to the intercept).

    ONE Generate (explode) over ONE scan — unigrams and bigrams come
    out of a single POSITION explode over ``sequence(1, n + (n-1))``
    (positions ``<= n`` are unigrams, the rest adjacent bigrams via
    ``element_at``), so the term explosion is the only row
    amplification and it is linear in corpus tokens. The position form
    is WHOLE-STAGE CODEGEN end to end (r13): the previous
    ``zip_with(slice, slice)`` bigram array is a higher-order function
    — CodegenFallback, an interpreted lambda per token — and swapping
    it for ``element_at`` measured 4.30 s → 2.03 s best-of-5 for the
    full cjk/md5 feature build at sf0.1, bit-identical (id,
    feature_id, tf) output.
    """
    for taken in (id_col, "feature_id", "tf", "__g"):
        if taken in (carry or []):
            raise ValueError(
                f"hashed_token_features: carry column {taken!r} collides "
                "with a generated/id column — the explode+groupBy would "
                "produce a duplicate or ambiguous column and silently "
                "wrong tf counts; rename it in df first"
            )
    extra = list(carry or [])
    canon = canonical_tokens_col(text, token_classes)
    # NULL / empty canonical text yields no rows: filter BEFORE the
    # split ("" splits to [''] — one bogus empty token otherwise).
    base = (
        df.select(F.col(id_col), *extra, canon.alias("__c"))
        .where(F.length("__c") > 0)
        .select(id_col, *extra, F.split("__c", " ").alias("__ws"))
    )
    n = F.size("__ws")
    if bigrams:
        n_pos = n + F.greatest(n - 1, F.lit(0))
    else:
        n_pos = n
    exploded = base.select(
        id_col,
        *extra,
        "__ws",
        F.explode(F.sequence(F.lit(1), n_pos)).alias("__i"),
    )
    n2 = F.size("__ws")
    if bigrams:
        gram = F.when(
            F.col("__i") <= n2, F.element_at("__ws", F.col("__i"))
        ).otherwise(
            F.concat_ws(
                " ",
                F.element_at("__ws", F.col("__i") - n2),
                F.element_at("__ws", F.col("__i") - n2 + 1),
            )
        )
    else:
        gram = F.element_at("__ws", F.col("__i"))
    return (
        exploded.select(
            id_col,
            *extra,
            _feature_hash(gram, n_features, hash_family).alias(
                "feature_id"
            ),
        )
        .groupBy(id_col, *extra, "feature_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def score_linear_model(
    docs: DataFrame,
    id_col: str,
    text: Column,
    weights: DataFrame,
    n_features: int = 1 << 18,
    intercept: int = 0,
    threshold: int = 0,
    bigrams: bool = True,
    hash_family: str = "xxhash64",
    token_classes: str = "ascii",
    feature_col: str = "feature_id",
    weight_col: str = "weight",
    feats: DataFrame | None = None,
) -> DataFrame:
    """Score every document with a broadcast linear model: returns
    ``docs`` + ``logit`` (exact int64, milli-units — intercept plus
    Σ tf·weight over the document's hashed features) + ``kept``
    (``logit >= threshold``).

    ``weights``: (feature_id, weight int64) — the trained model as a
    DataFrame. It is broadcast explicitly: at any realistic size
    (≤ tens of MB for 2^18-2^20 features) shipping the model to every
    executor beats shuffling corpus-sized feature rows by orders of
    magnitude; features that miss the table score 0 (inner join drops
    them — sparse models stay sparse).

    ``feats``: optional prebuilt ``(id_col, feature_id, tf)`` frame —
    EXACTLY ``hashed_token_features`` of the same docs with the same
    n_features/bigrams/hash_family/token_classes (the caller owns that
    contract; pass a pinned frame when it has other consumers). A
    train-then-score pipeline that already materialized its feature
    frame (``train_linear_model`` localCheckpoints one) passes it here
    and the scorer skips its own corpus explode — at any scale that
    deletes one full text scan + explode + (id, feature) aggregate,
    the scorer's dominant cost (r13: q168 5.85 s → 2.96 s at sf0.1,
    best-of-5).

    Plan: explode → hash → broadcast-join weights → per-doc sum →
    left-join back onto ``docs`` (zero-feature documents keep the
    intercept). The corpus shuffles ONCE, on ``id_col``, for the
    per-doc sum; nothing else moves it.
    """
    if feats is None:
        feats = hashed_token_features(
            docs.select(id_col, text.alias("__text")),
            id_col,
            F.col("__text"),
            n_features=n_features,
            bigrams=bigrams,
            hash_family=hash_family,
            token_classes=token_classes,
        )
    w = weights.select(
        F.col(feature_col).alias("feature_id"),
        F.col(weight_col).cast("long").alias("__w"),
    )
    sums = (
        feats.join(F.broadcast(w), "feature_id")
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("__w")).alias("__dot"))
    )
    out = docs.join(sums, id_col, "left").withColumn(
        "logit",
        (F.coalesce(F.col("__dot"), F.lit(0)) + F.lit(intercept)).cast(
            "long"
        ),
    )
    return out.drop("__dot").withColumn(
        "kept", F.col("logit") >= F.lit(threshold)
    )


def train_linear_model(
    docs: DataFrame,
    id_col: str,
    text: Column,
    label: Column,
    n_features: int = 1 << 18,
    n_iter: int = 2,
    lr_den: int = 1000,
    bigrams: bool = True,
    hash_family: str = "xxhash64",
    token_classes: str = "ascii",
    feats: DataFrame | None = None,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration full-batch gradient trainer for the hashed-
    feature linear quality filter — closes the q164 loop: the model
    ``score_linear_model`` broadcasts no longer has to arrive from
    outside the engine. Returns the trained ``(feature_id, weight)``
    table (int64 milli-units; absent feature = weight 0).

    Logistic regression with a HARD-SIGMOID link in integer
    fixed-point, so every weight — and therefore every downstream
    logit and keep decision — is bit-identical across engines,
    partition orders, and retries (a float sigmoid would diverge in
    exp() ulps and float-sum order). Per iteration, all in int64
    milli-units, ``div`` truncating toward zero (Spark ``div`` and
    DuckDB ``//`` agree, verified on negatives):

    1. ``z_d  = Σ_f tf·w_f``            (0 for every doc at iter 1 —
       weights start all-zero, represented as an EMPTY table)
    2. ``p_d  = clamp(500 + z_d div 4, 0, 1000)`` — the piecewise-
       linear sigmoid ``σ̂(x) = clip(0.5 + x/4, 0, 1)`` in milli-units
    3. ``err_d = p_d - 1000·y_d``
    4. ``g_f  = Σ_d tf_{d,f}·err_d``
    5. ``w_f ← w_f - (g_f div lr_den)``

    A DuckDB oracle unrolls the iterations as CTEs and reproduces the
    trained model bit-for-bit (q168).

    ``feats``: optional prebuilt ``(id_col, feature_id, tf)`` frame,
    same contract as ``score_linear_model(feats=...)`` — the caller
    passes an ALREADY-PINNED frame (localCheckpoint) and the trainer
    skips both its own feature build and its own pin, so a
    train-then-score pipeline pays for the corpus explode exactly once
    across both halves (q168).

    ``labels``: optional prebuilt ``(id_col, label int)`` frame, pinned
    hash(``id_col``) by the caller (``pin_partitioned(df, id_col)``) —
    the trainer then runs NO pin job of its own, which lets the caller
    OVERLAP the label pin with the (much larger) feature pin on a
    2-thread pool so the small job back-fills the big job's straggler
    tail (guide §2.6; q168 does this).  When omitted, the trainer pins
    ``label`` over ``docs`` itself, sequentially.

    Scale shape: the feature frame — the expensive part, one explode
    over one text scan — is built ONCE and ``localCheckpoint``-ed, so
    ``n_iter`` iterations never re-read the corpus. Each iteration is
    one broadcast join (weights, model-sized), one groupBy on the doc
    id, and one groupBy on feature_id (bounded by ``n_features`` after
    map-side partial aggregation). The weight table stays distributed
    — nothing model-sized ever collects to the driver; consumers
    broadcast it exactly like ``pseudo_weights``.
    """
    base = docs.select(
        F.col(id_col), text.alias("__text"), label.alias("__label")
    )
    if feats is not None and labels is not None:
        # caller overlapped both pins (guide §2.6); just reshape the
        # label — a projection on the pinned frame keeps its hash(id)
        # layout for the per-iteration co-partitioned joins below
        labels = labels.select(
            F.col(id_col),
            (F.col("label").cast("long") * 1000).alias("__y"),
        )
    if feats is None:
        # Co-partitioned pin (r14, guide §2.4): repartition the docs by
        # id BEFORE the explode so the tf groupBy reuses that exchange,
        # and capture hash(id) into the checkpoint — every
        # per-iteration doc-keyed join/aggregate below then plans
        # without re-shuffling the feature relation.
        feats = pin_partitioned(
            hashed_token_features(
                base.repartition(F.col(id_col)),
                id_col,
                F.col("__text"),
                n_features=n_features,
                bigrams=bigrams,
                hash_family=hash_family,
                token_classes=token_classes,
            )
        )
    # labels ride the same hash(id) layout so the per-iteration
    # labels⋈sums and feats⋈errs joins are co-partitioned (zero
    # exchanges; sums/errs inherit hash(id) from feats through the
    # broadcast joins and doc-id aggregates).
    if labels is None:
        labels = pin_partitioned(
            base.select(
                F.col(id_col),
                (F.col("__label").cast("long") * 1000).alias("__y"),
            ),
            id_col,
        )

    w: DataFrame | None = None  # all-zero model: empty weight table
    for _ in range(n_iter):
        if w is None:
            # z = 0 everywhere: p = 500 milli for every doc
            errs = labels.select(
                F.col(id_col), (F.lit(500) - F.col("__y")).alias("__err")
            )
        else:
            sums = (
                feats.join(F.broadcast(w), "feature_id")
                .groupBy(id_col)
                .agg(F.sum(F.col("tf") * F.col("weight")).alias("__z"))
            )
            errs = labels.join(sums, id_col, "left").select(
                F.col(id_col),
                (
                    F.least(
                        F.lit(1000),
                        F.greatest(
                            F.lit(0),
                            F.lit(500)
                            + F.expr("coalesce(__z, 0) div 4").cast("long"),
                        ),
                    )
                    - F.col("__y")
                ).alias("__err"),
            )
        grad = (
            feats.join(errs, id_col)
            .groupBy("feature_id")
            .agg(F.sum(F.col("tf") * F.col("__err")).alias("__g"))
        )
        step = grad.select(
            "feature_id",
            (-F.expr(f"__g div {lr_den}")).cast("long").alias("__d"),
        )
        if w is None:
            w = step.select("feature_id", F.col("__d").alias("weight"))
        else:
            w = (
                w.join(step, "feature_id", "full_outer")
                .select(
                    "feature_id",
                    (
                        F.coalesce(F.col("weight"), F.lit(0))
                        + F.coalesce(F.col("__d"), F.lit(0))
                    ).alias("weight"),
                )
            )
        # model-sized (≤ n_features rows): cut the per-iteration lineage
        # so iteration k never re-runs iterations 1..k-1 per consumer
        # (the connected_components / containment_dedup bet)
        w = w.localCheckpoint()
    return w


def class_count_model(
    docs: DataFrame,
    id_col: str,
    text: Column,
    label: Column,
    n_features: int = 1 << 18,
    bigrams: bool = True,
    hash_family: str = "xxhash64",
    token_classes: str = "ascii",
    feats: DataFrame | None = None,
    feats_class_col: str | None = None,
) -> DataFrame:
    """(class_id, feature_id, weight) — per-class hashed-token counts,
    the simplest multiclass linear model (a naive-Bayes-shaped count
    router: the class sharing the most vocabulary mass with a document
    wins). ``weight`` is the exact int64 Σtf of the feature within the
    class's documents, so the model — and every routing decision
    scored from it — reproduces bit-for-bit in any engine (q198's
    oracle rebuilds it from the same corpus).

    Scale shape — MEASURED both ways (r12): the feature frame joins
    back against the narrow (id, class_id) projection of ``docs``
    before the (class, feature) aggregate. That join is a real
    per-doc shuffle, but it keeps this feature subtree IDENTICAL to
    the one ``score_multiclass_model`` builds — so when model build
    and scoring share a job (the q198 shape, and any route-then-score
    diagnostic), Spark's exchange reuse collapses the two corpus
    explodes into ONE physical pass. Carrying the label through the
    explode instead (``hashed_token_features(carry=["class_id"])``)
    removes the join but breaks that reuse, and measured 9.8 s vs
    5.9 s for q198 at sf0.1 — the join form wins whenever the
    feature subtree is shared. A standalone model build (train once,
    score elsewhere — no reuse to lose) can use the carry form
    directly. Output is at most |classes| x n_features rows,
    map-side-combined.

    ``feats``: optional prebuilt ``(id_col, feature_id, tf)`` frame,
    same contract as ``score_linear_model(feats=...)``. Exchange
    reuse turned out to be FRAGILE in practice — the r13 plan audit
    found the q198 build+score job running the corpus explode twice
    anyway (the two subtrees stop being identical once the small
    model side broadcasts; as of the argmax change its plan still
    showed 2 Generates / 8 scans) — so a
    build-then-route pipeline should build the feature frame once,
    pin it (localCheckpoint), and pass it to BOTH this and
    ``score_multiclass_model``; that makes the one-explode property
    structural instead of optimizer-dependent (q198: 4.63 s → see
    OPTIMIZATION_r13.md).

    NOTE (ADVICE r13): when BOTH ``feats`` and ``feats_class_col`` are
    given, every other argument (``docs``/``text``/``label``/
    ``n_features``/``bigrams``/``hash_family``/``token_classes``) is
    IGNORED — the model aggregates the provided frame as-is. The
    caller owns two contracts on that path: the frame was built with
    the hash parameters the scorer will use, and ``feats_class_col``
    is per-document-constant (functionally dependent on ``id_col``,
    e.g. via ``hashed_token_features(carry=[...])`` of a per-doc
    label); a class column that varies within a document would split
    its tf mass across classes with no error raised."""
    if feats is not None and feats_class_col is not None:
        # ``feats`` already carries the label
        # (``hashed_token_features(carry=[...])``): aggregate directly —
        # no per-doc labels join, so the feature relation crosses ONE
        # exchange (the class/feature aggregate) instead of two. With a
        # PINNED feats frame this is strictly better than the join form
        # (the r12 "carry breaks exchange reuse" objection only applied
        # when the two halves shared a live subtree); measured 1.06 s →
        # 0.48 s for the q198 model build at sf0.1. Guide §2.4.
        return (
            feats.groupBy(
                F.col(feats_class_col).alias("class_id"), "feature_id"
            )
            .agg(F.sum("tf").cast("long").alias("weight"))
        )
    base = docs.select(
        F.col(id_col), text.alias("__text"), label.alias("class_id")
    )
    if feats is None:
        feats = hashed_token_features(
            base,
            id_col,
            F.col("__text"),
            n_features=n_features,
            bigrams=bigrams,
            hash_family=hash_family,
            token_classes=token_classes,
        )
    labels = base.select(F.col(id_col), "class_id")
    return (
        feats.join(labels, id_col)
        .groupBy("class_id", "feature_id")
        .agg(F.sum("tf").cast("long").alias("weight"))
    )


def score_multiclass_model(
    docs: DataFrame,
    id_col: str,
    text: Column,
    weights: DataFrame,
    n_features: int = 1 << 18,
    bigrams: bool = True,
    hash_family: str = "xxhash64",
    token_classes: str = "ascii",
    class_col: str = "class_id",
    feature_col: str = "feature_id",
    weight_col: str = "weight",
    feats: DataFrame | None = None,
) -> DataFrame:
    """Route every document to one of k classes with a broadcast
    (class, feature, weight) linear model — the fastText-langid shape
    (k one-vs-all linear scorers sharing one hashed feature space):
    returns ``docs`` + ``pred_class`` + ``logit`` (the winning class's
    exact int64 score). Argmax is DETERMINISTIC: highest logit wins,
    ties go to the smallest ``class_id`` (``min`` over the struct
    ``(-logit, class_id)`` is a total order), so routing is
    bit-identical across engines and retries — q198 pins it against
    DuckDB.

    Plan (the q164 scorer widened by a class column — NO per-class
    corpus scan): ONE feature explode -> broadcast-join the model
    (a feature may carry several class rows; the join fans out by
    classes-per-feature, bounded by k) -> one (id, class) sum -> one
    per-id min(struct) aggregate for the argmax -> left-join back onto
    ``docs``. The argmax is an AGGREGATE, not a row_number window
    (r13): the hash aggregate partially reduces k rows per doc to one
    MAP-SIDE before its exchange and never sorts, where the window
    form shuffled all k rows and paid an exchange + full sort —
    identical output (the struct ordering is the same total order),
    one less sort, k× fewer shuffled rows (q198: 7.7 s → 6.7 s
    best-of at sf0.1). The corpus text is read once; everything after
    the explode carries (id, class, int64) rows only. Documents none
    of whose features hit the model (or with no features at all) get
    NULL pred_class/logit — route-to-fallback is the caller's explicit
    decision, not a silent default class.

    ``feats``: optional prebuilt ``(id_col, feature_id, tf)`` frame —
    same contract as ``score_linear_model(feats=...)`` (the caller
    owns hash-parameter agreement and passes a pinned frame); a
    build-then-route pipeline (``class_count_model`` + this) passes
    the SAME pinned frame to both so the corpus explodes once for the
    whole job."""
    if feats is None:
        feats = hashed_token_features(
            docs.select(id_col, text.alias("__text")),
            id_col,
            F.col("__text"),
            n_features=n_features,
            bigrams=bigrams,
            hash_family=hash_family,
            token_classes=token_classes,
        )
    w = weights.select(
        F.col(class_col).alias("__cls"),
        F.col(feature_col).alias("feature_id"),
        F.col(weight_col).cast("long").alias("__w"),
    )
    sums = (
        # project to the contract columns: a caller-provided feats frame
        # may carry extra per-doc columns (labels), which must not ride
        # the model join + (id, class) exchange (guide §2.3).
        feats.select(id_col, "feature_id", "tf")
        .join(F.broadcast(w), "feature_id")
        .groupBy(id_col, "__cls")
        .agg(F.sum(F.col("tf") * F.col("__w")).alias("__logit"))
    )
    best = (
        sums.groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    (-F.col("__logit")).alias("n"),
                    F.col("__cls").alias("c"),
                )
            ).alias("__m")
        )
        .select(
            id_col,
            F.col("__m.c").alias("pred_class"),
            (-F.col("__m.n")).cast("long").alias("logit"),
        )
    )
    return docs.join(best, id_col, "left")


def pseudo_weights(
    spark, n_features: int = 1 << 18, spread: int = 1000
) -> DataFrame:
    """Deterministic (feature_id, weight) table spanning the full
    feature space: weight = md5-derived value in [-spread, +spread]
    milli-units. Stands in for a trained model in fixtures and
    benchmarks — same cardinality, same broadcast size, same join
    shape — and reproduces bit-for-bit in any md5-capable engine
    (DuckDB builds the identical table from ``range(n)``)."""
    h1, _ = md5_h1h2(F.col("id").cast("string"))
    return spark.range(n_features).select(
        F.col("id").alias("feature_id"),
        (F.pmod(h1, F.lit(2 * spread + 1)) - spread).alias("weight"),
    )
