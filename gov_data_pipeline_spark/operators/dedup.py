"""Deduplication operators for LLM-training-data pipelines (SURVEY L5/L6).

All hot paths are native Spark expressions (xxhash64, higher-order array
functions) — no Python UDFs — so they stay inside whole-stage codegen
and scale linearly:

- exact_dedup: hash-groupBy keep-one (one shuffle on the content hash);
- shingle_rows / minhash_doc_profile / lsh_candidate_pairs /
  verify_candidates_hashset: MinHash + banded LSH. The band join is the
  scale path: candidates are generated by an equi-join on (band_id,
  band_hash) — an inverted index — never by an all-pairs comparison;
- jaccard_pairs: exact n-gram-Jaccard pairs via a shingle inverted
  index (explode -> self-join on shingle -> count). Exact, but blocked:
  only pairs sharing >=1 shingle are ever materialized;
- simhash_df: SimHash via per-bit sum aggregates; near-dup blocking
  by 8-bit chunk equality (pigeonhole: hamming<=7 implies one of the 8
  chunks matches exactly, so blocking recall is perfect at the verify
  threshold).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _content_hash(content_cols: list[str]) -> Column:
    """Collision-safe content digest: sha2 over the JSON of a struct of
    the columns, with null fields KEPT. ``concat_ws`` is not usable
    here — it silently skips NULLs, so ``('x', NULL)`` and
    ``('', 'x')``-style rows would collide and dedup would destroy
    distinct documents. JSON escaping also removes the
    separator-appears-in-data collision class. Stays fully codegen'd
    (``to_json`` is a native expression)."""
    return F.sha2(
        F.to_json(
            F.struct(*[F.col(c) for c in content_cols]),
            {"ignoreNullFields": "false"},
        ),
        256,
    )


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (minimal ``id_col``) per distinct content.

    SURVEY L5: content-digest group pick-one. The hash groupBy shuffles
    64-byte digests instead of full documents — at 100 TB that is the
    difference between shuffling everything and shuffling ~nothing
    (pre-aggregate on hash, rejoin winners).
    """
    h = _content_hash(content_cols).alias("__h")
    hashed = df.withColumn("__h", h)
    winners = hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return (
        hashed.join(winners, ["__h", id_col], "left_semi").drop("__h")
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    seen_df: DataFrame | None,
    content_cols: list[str],
    id_col: str,
    seen_hashes: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an already-ingested corpus plus
    itself — the incremental form of ``exact_dedup`` for append-only
    pipelines, where re-deduplicating 100 TB for a 100 GB increment is
    not an option.

    The seen side reduces to its distinct content hashes (64 bytes per
    historical row, computed map-side and aggregated before the join);
    the anti-join then shuffles digests, never documents. In
    production the hash index is persisted (bucketed by hash) so each
    increment joins against it without recomputation — pass it as
    ``seen_hashes`` (first column = digest; ``seen_df`` is then
    ignored; ``streaming.incremental_dedup_sink(digest_sidecar=True)``
    maintains exactly such an index). Without it the index is derived
    on the fly so the operator stays a pure function of its inputs.
    """
    h = _content_hash(content_cols)
    if seen_hashes is not None:
        first = seen_hashes.columns[0]
        seen_h = seen_hashes.select(F.col(first).alias("__h")).distinct()
    elif seen_df is not None:
        seen_h = seen_df.select(h.alias("__h")).distinct()
    else:
        raise ValueError(
            "incremental_exact_dedup: one of seen_df or seen_hashes is "
            "required (use exact_dedup for a corpus-less first batch)"
        )
    fresh = new_df.withColumn("__h", h).join(seen_h, "__h", "left_anti")
    winners = fresh.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return fresh.join(winners, ["__h", id_col], "left_semi").drop("__h")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` as array<string>.

    Column-expression form (interpreted higher-order lambdas — fine for
    ad-hoc use; the corpus-scale path is ``shingle_rows``, which builds
    the same shingles fully inside whole-stage codegen).
    Documents shorter than n words yield their full word-join as the
    single shingle so they still participate.
    """
    words = F.split(F.trim(text), r"\s+")
    k = F.size(words) - F.lit(n - 1)
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array(F.array_join(words, " ")))
    return F.array_distinct(grams)


def shingle_rows(
    df: DataFrame,
    id_col: str,
    text: Column,
    n: int = 3,
    widen: bool = True,
    distinct: bool = True,
    positions: bool = False,
) -> DataFrame:
    """(id, shingle) rows — the exploded, codegen'd equivalent of
    ``word_shingles`` (identical shingle strings).

    Construction is shuffle-free: explode a 1..k index sequence and
    build each n-gram with ``element_at`` over the words array carried
    alongside — generate + project fuse inside whole-stage codegen, so
    only the (id, gram) pair ever leaves the stage (the array is never
    shuffled). Documents shorter than n words contribute their full
    word-join as a single shingle so they still participate.

    ``distinct=True`` (default) dedups repeated shingles — one shuffle,
    and the form the inverted-index consumers (``jaccard_pairs``,
    ``verify_candidates_jaccard``) require, since they count rows per
    pair. Pass ``distinct=False`` when the consumer is
    duplicate-insensitive (``minhash_doc_profile``: ``min`` and
    ``collect_set`` ignore duplicates) — the whole shingle relation
    then costs ZERO shuffles, which removed ~10% of q42's wall-clock
    and, at cluster scale, an entire corpus-sized exchange.

    ``positions=True`` additionally emits the 1-based word offset of
    each gram as ``pos`` (int) — the form positional consumers
    (``duplicate_passage_spans``) need. In that mode documents shorter
    than ``n`` words are EXCLUDED (a degenerate whole-doc shingle has
    no meaningful n-gram offset, and the extra union branch would cost
    a second corpus scan) and ``distinct`` must be False ((id, pos)
    rows are unique by construction).

    (An earlier version built grams with ``lead`` over a per-document
    window; that cost a words-sized shuffle before the first aggregate
    and is dominated by this form at every scale.)
    """
    # ``widen``: pre-explosion repartition by id — ships documents
    # instead of shingle rows and pins the explode stage at full width
    # regardless of input splits or AQE byte-based coalescing. Enable
    # when the result feeds one cached consumer chain (q41's index);
    # disable when the result fans out into a multi-consumer DAG whose
    # sides reuse downstream exchanges (q42 regressed with it).
    if widen:
        df = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, id_col
        )
    if positions and distinct:
        raise ValueError("positions=True requires distinct=False")
    words = F.split(F.trim(text), r"\s+")
    base = df.select(F.col(id_col), words.alias("__ws"))
    k = F.size(F.col("__ws")) - F.lit(n - 1)
    gram_expr = F.concat_ws(
        " ", *[F.element_at("__ws", F.col("__i") + j) for j in range(n)]
    ).alias("s")
    exploded = base.filter(k >= 1).select(
        F.col(id_col),
        F.col("__ws"),
        F.explode(F.sequence(F.lit(1), k)).alias("__i"),
    )
    if positions:
        return exploded.select(
            F.col(id_col), F.col("__i").cast("int").alias("pos"), gram_expr
        )
    grams = exploded.select(F.col(id_col), gram_expr)
    short = base.filter(k < 1).select(
        F.col(id_col), F.array_join("__ws", " ").alias("s")
    )
    out = grams.unionByName(short)
    return out.distinct() if distinct else out


def _min_array(term: str, num_hashes: int) -> Column:
    """``array(min(term(0)), ..., min(term(num_hashes - 1)))`` as one SQL
    expression: one Python->JVM crossing instead of a few hundred.
    ``term`` is a format string over the caller's own ``__`` columns."""
    mins = ", ".join(f"min({term.format(i)})" for i in range(num_hashes))
    return F.expr(f"array({mins})")


def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    num_hashes: int = 32,
    sig_col: str = "sig",
) -> DataFrame:
    """MinHash signatures via explode + min-aggregates.

    Each (doc, shingle) row is hashed ``num_hashes`` times with
    codegen'd ``xxhash64(i, s)`` and min-aggregated per doc — a single
    hash-aggregate with map-side partial min, one shuffle on the doc id
    (which downstream banding needs anyway). Same values as
    ``minhash_doc_profile``'s default xxhash64 family, computed from a
    shingle ARRAY column instead of exploded (id, shingle) rows.
    """
    ex = df.select(F.col(id_col), F.explode(F.col(shingles_col)).alias("__s"))
    sig = ex.groupBy(id_col).agg(
        _min_array("xxhash64({}, __s)", num_hashes).alias(sig_col)
    )
    # LEFT join + all-null signature: an empty shingle array produces no
    # exploded rows and an inner join would drop the document entirely.
    default = F.expr(f"array({', '.join(['CAST(NULL AS BIGINT)'] * num_hashes)})")
    return df.join(sig, id_col, "left").withColumn(
        sig_col, F.coalesce(F.col(sig_col), default)
    )


def signature_band_buckets(
    df: DataFrame,
    id_col: str,
    signature_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, bucket) rows: the banded-LSH inverted index of a
    signature column. Bucket = xxhash64 of the signature slice hashed
    as an ARRAY — no per-band string building; equality of buckets ==
    equality of slices barring a 2^-64 collision (the property the
    differential oracle relies on when it joins on the slice values
    directly). Shared by ``lsh_candidate_pairs`` (self-join form) and
    the streaming ingest sink (batch-vs-corpus form)."""
    sig = F.col(signature_col)
    return df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(sig, b * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    signature_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
    sig_len: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (a_id < b_id), deduplicated.

    Explode the signature into ``bands`` slices, hash each slice, and
    equi-join on (band, slice-hash). Collision probability for a pair
    with Jaccard j is 1-(1-j^rows)^bands. The join key is a (int, long)
    pair — small, shuffle-friendly; hot buckets (boilerplate shingles)
    are the skew risk, handled by AQE skew-join at scale.

    Pass ``sig_len`` (the signature's num_hashes) when known: a banding
    that over-runs the signature would silently slice empty arrays,
    whose identical hash turns those bands into an all-pairs cross
    join — validating driver-side makes that a loud parameter error.
    """
    if sig_len is not None and bands * rows_per_band > sig_len:
        raise ValueError(
            f"lsh_candidate_pairs: bands*rows_per_band = "
            f"{bands * rows_per_band} exceeds signature length {sig_len}"
        )
    banded = signature_band_buckets(df, id_col, signature_col, bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col("b.band"))
            & (F.col(f"a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id")
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float,
) -> DataFrame:
    """Exact shingle-Jaccard pairs >= threshold via inverted index.

    explode(shingles) -> self-join on shingle -> per-pair intersection
    count -> join sizes -> J = inter / (|A| + |B| - inter). Only pairs
    sharing at least one shingle are generated; with a frequency cap on
    pathological shingles (stop-shingle removal) this is the standard
    scalable exact-verification pattern.

    The self-join runs on 64-bit shingle hashes, not strings: the
    shuffled/broadcast payload shrinks ~4x and the join comparator is a
    long compare. A cross-shingle hash collision would need ~2^64
    shingles to matter (birthday bound ~1e-9 at 10^6 shingles).
    """
    ex = df.select(
        F.col(id_col), F.explode(F.col(shingles_col)).alias("__sh")
    ).select(F.col(id_col), F.xxhash64(F.col("__sh")).alias("s"))
    sizes = df.select(F.col(id_col), F.size(shingles_col).alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_from_inter(inter, sizes, id_col, threshold)


def _jaccard_from_inter(
    inter: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Shared scoring tail for every exact-Jaccard path: join per-doc
    set sizes onto (a_id, b_id, inter), J = inter / (n_a + n_b - inter),
    threshold on the RAW ratio, round to 4 decimals for output. One
    definition so the convention can't drift between the inverted-index,
    text, and LSH-verify forms (the differential oracles replicate it)."""
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard"))
    )


def cap_shingle_doc_freq(
    ex: DataFrame, id_col: str, shingle_col: str, max_doc_freq: int
) -> DataFrame:
    """Drop "stop shingles" — shingles appearing in more than
    ``max_doc_freq`` documents — from an exploded (id, shingle)
    inverted index.

    This is THE scale lever for shingle-join near-dup: a boilerplate
    shingle in f documents generates f·(f-1)/2 candidate pairs, so one
    shared header across 10^6 docs would alone materialize ~5·10^11
    pairs. Capping bounds per-shingle fan-out to max_doc_freq²/2 and
    turns the worst case linear in corpus size. Semantics shift from
    exact Jaccard to Jaccard-over-informative-shingles (hot shingles
    are treated as stopwords on BOTH sides — sizes and intersections —
    so the measure stays a true Jaccard of the capped sets); near-dup
    recall for genuinely similar pairs is unaffected because such pairs
    share rare shingles too. One extra aggregation on the shingle key
    (map-side partial count) + a broadcast anti-join against the hot
    list, which is small by construction.
    """
    hot = (
        ex.groupBy(shingle_col)
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select(shingle_col)
    )
    return ex.join(F.broadcast(hot), shingle_col, "left_anti")


def jaccard_pairs_text(
    df: DataFrame,
    id_col: str,
    text: Column,
    n: int = 3,
    threshold: float = 0.5,
    cache: bool = False,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs, end-to-end codegen'd: shingle via
    ``shingle_rows``, inverted-index self-join on 64-bit shingle
    hashes, per-pair intersection counts, sizes from the same exploded
    relation. The fast path for corpus-scale near-dup detection; result
    is identical to ``jaccard_pairs`` over ``word_shingles``.

    ``cache`` optionally persists the exploded shingle relation (it
    feeds both self-join sides and the size aggregate). Measured on the
    local harness recompute is as fast as caching once codegen'd; on a
    cluster with expensive upstream ingest, enable it or checkpoint the
    inverted index explicitly.

    ``max_doc_freq`` enables stop-shingle capping (see
    ``cap_shingle_doc_freq``) — the knob that keeps the self-join
    linear when boilerplate creates hot shingles. Off by default:
    exact Jaccard, as the oracle checks.
    """
    ex = shingle_rows(df, id_col, text, n).select(
        F.col(id_col), F.xxhash64("s").alias("s")
    )
    if max_doc_freq is not None:
        ex = cap_shingle_doc_freq(ex, id_col, "s", max_doc_freq)
    if cache:
        ex = ex.cache()
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_from_inter(inter, sizes, id_col, threshold)


def md5_h1h2(col: Column) -> tuple[Column, Column]:
    """Two independent 52-bit integer hashes from one md5 digest.

    The cross-engine-reproducible hash family: any engine with ``md5``
    and hex parsing computes identical values (DuckDB:
    ``('0x' || substr(md5(s), 1, 13))::BIGINT``), so sketches built on
    it carry a full differential oracle instead of a rows-only check.
    52 bits keeps ``h1 + i*h2`` (i < 64) far from bigint overflow,
    which DuckDB raises on while the JVM wraps.
    """
    d = F.md5(col)
    h1 = F.conv(F.substring(d, 1, 13), 16, 10).cast("long")
    h2 = F.conv(F.substring(d, 14, 13), 16, 10).cast("long")
    return h1, h2


def minhash_doc_profile(
    ex: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    sig_col: str = "sig",
    hash_family: str = "xxhash64",
    hashset_col: str = "hset",
    size_col: str = "n",
) -> DataFrame:
    """Per-document sketch profile in ONE aggregate: MinHash signature
    + shingle-hash set + shingle count.

    ``hash_family``: ``"xxhash64"`` (default — fastest, JVM-only) hashes
    each shingle ``num_hashes`` times; ``"md5"`` digests each shingle
    once and derives the family as ``g_i = h1 + i*h2`` (Kirsch &
    Mitzenmacher double hashing) — bit-reproducible in any md5-capable
    engine, which is what the DuckDB differential oracle for q42 runs
    on.

    The extra ``collect_set(xxhash64(s))`` column lets the LSH verify
    stage score candidate pairs with ``array_intersect`` on two profile-row lookups
    instead of re-joining the exploded shingle index twice and
    re-aggregating per pair. Net effect on the physical plan: the
    shingle relation is consumed exactly once, and the verify stage
    shuffles one profile row per doc (hash-set payload bounded by the
    document's own shingle count) instead of one row per shingle —
    measured ~30% faster end-to-end on q42 at sf0.1, and strictly less
    shuffled volume at any scale because the profile is the compressed
    form of the index.
    """
    # Narrow the aggregate input to plain long columns FIRST (r14,
    # guide §1.2 per-task work / §2.3 narrower types): the md5 digest +
    # two conv() hex parses (and the xxhash64 set hash) are evaluated
    # ONCE per shingle row in this projection, and the 32 min-update
    # expressions consume h1/h2 arithmetic only.  In the previous form
    # each update expression referenced conv(substring(md5(s)..)) and
    # correctness of single evaluation rested on codegen subexpression
    # elimination inside the partial aggregate; this makes it
    # structural.  Values are bit-identical — the same expressions,
    # factored through a projection.
    #
    # The signature is one SQL expression (``_min_array``): as one
    # Column per term, 32 mins and the array cost ~2,600 Python->JVM
    # round trips per plan, against ~90 for the whole operator now.
    # The shingle column becomes ``__s`` so no caller's name is parsed.
    if hash_family == "md5":
        h1, h2 = md5_h1h2(F.col("s"))
        narrowed = ex.select(
            F.col(id_col),
            h1.alias("__h1"),
            h2.alias("__h2"),
            F.xxhash64(F.col("s")).alias("__hx"),
        )
        term = "__h1 + __h2 * {}"
    elif hash_family == "xxhash64":
        narrowed = ex.select(
            F.col(id_col),
            F.col("s").alias("__s"),
            F.xxhash64(F.col("s")).alias("__hx"),
        )
        term = "xxhash64({}, __s)"
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    return (
        narrowed.groupBy(id_col)
        .agg(
            _min_array(term, num_hashes).alias(sig_col),
            F.collect_set(F.col("__hx")).alias(hashset_col),
        )
        .withColumn(size_col, F.size(hashset_col))
    )


def verify_candidates_hashset(
    cands: DataFrame,
    profile: DataFrame,
    id_col: str,
    threshold: float,
    hashset_col: str = "hset",
    size_col: str = "n",
    profile_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate pairs from ``minhash_doc_profile``
    rows: two equi-joins pull each side's shingle-hash set onto the
    pair, ``array_intersect`` computes the overlap inside codegen —
    no per-pair re-aggregation, no second pass over the exploded
    shingle index. Distinct-shingle semantics are identical to
    ``verify_candidates_jaccard`` (the sets are built from the same
    distinct (id, shingle) rows; xxhash64 collisions are the usual
    2^-64 non-event).

    ``profile_b`` resolves the pair's b-side from a SEPARATE profile
    relation — required when the two id spaces may collide (the
    streaming ingest sink verifies batch-vs-corpus candidates where a
    retried batch reuses its own ids); default is the self-join form.
    """
    pa = profile.select(
        F.col(id_col).alias("a_id"),
        F.col(hashset_col).alias("__ha"),
        F.col(size_col).alias("n_a"),
    )
    pb = (profile_b if profile_b is not None else profile).select(
        F.col(id_col).alias("b_id"),
        F.col(hashset_col).alias("__hb"),
        F.col(size_col).alias("n_b"),
    )
    return (
        cands.join(pa, "a_id")
        .join(pb, "b_id")
        .withColumn("inter", F.size(F.array_intersect("__ha", "__hb")))
        .withColumn(
            "jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard"))
    )


def verify_candidates_jaccard(
    cands: DataFrame,
    ex: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard for candidate pairs only: join the candidate list
    to the inverted index twice (a-side shingles, then matching b-side
    shingles) — cost scales with |candidates| x shingles-per-doc, never
    with the full pair space. This is the verify stage of the
    MinHash-LSH scale path when signatures and shingles arrive from
    separate relations; when both derive from the same shingle rows,
    ``minhash_doc_profile`` + ``verify_candidates_hashset`` fuse the
    two passes into one aggregate (faster, less shuffle)."""
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a_sh = ex.select(F.col(id_col).alias("a_id"), F.col("s"))
    b_sh = ex.select(F.col(id_col).alias("b_id"), F.col("s"))
    inter = (
        cands.join(a_sh, "a_id")
        .join(b_sh, ["b_id", "s"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard"))
    )


def simhash_df(
    df: DataFrame,
    id_col: str,
    tokens_col: Column | str,
    out_col: str = "simhash",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash via explode + ``bits`` codegen'd sum-aggregates: each
    token votes ±1 on every bit of its hash and the fingerprint takes
    the sign of each bit-sum. One shuffle on the doc id.

    ``hash_family="md5"`` (bits <= 56) derives the token hash from 14
    hex chars of the md5 digest — reproducible in any md5-capable
    engine, so the q43 fingerprints carry a full DuckDB oracle.
    """
    tokens = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    ex = df.select(F.col(id_col), F.explode(tokens).alias("__t"))
    if hash_family == "md5":
        if bits > 56:
            raise ValueError("md5 family carries 56 bits (14 hex chars)")
        h = F.conv(F.substring(F.md5(F.col("__t")), 1, 14), 16, 10).cast("long")
    elif hash_family == "xxhash64":
        h = F.xxhash64(F.col("__t"))
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    aggs = [
        F.sum(
            F.when(
                F.call_function("shiftright", h, F.lit(i)).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"__b{i}")
        for i in range(bits)
    ]
    sums = ex.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp.bitwiseOR(
            F.when(
                F.col(f"__b{i}") > 0, F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        )
    sig = sums.select(F.col(id_col), fp.alias(out_col))
    # LEFT join + zero default: a document whose token array is empty
    # produces no exploded rows, so an inner join would silently drop it
    # from the dedup pipeline; it gets fingerprint 0 instead.
    return df.join(sig, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0).cast("long"))
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def winnowing_fingerprints_df(
    df: DataFrame, id_col: str, text: Column, k: int = 8, w: int = 16
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03) as (id, fp) rows: hash every character ``k``-gram, keep
    the minimum hash of each sliding window of ``w`` consecutive gram
    hashes; the distinct minima are the fingerprint set.

    Guarantee: any shared substring of length >= ``w + k - 1`` between
    two documents yields at least one shared fingerprint, so a join on
    ``fp`` finds partial overlaps (quotes, boilerplate, plagiarism)
    that whole-document hashing misses.

    Shape: explode gram positions -> codegen'd ``substring`` + md5
    prefix hash per gram -> JVM-side sliding ``min`` window (one
    shuffle, on the doc id) -> distinct. The textbook Rabin-Karp
    *rolling* hash is a sequential-scanner trick for O(1) gram updates;
    here each gram hashes independently and vectorized, which costs the
    same linear work and parallelizes across rows.

    An array-expression formulation (transform over sequence +
    array_min over slice) is a trap: Spark does not share the inner
    gram-hash array between interpreted lambda evaluations, so every
    window re-hashes the whole document — O(len^2) md5 calls per row.
    The exploded-row form evaluates each gram hash exactly once.

    Documents shorter than one full window (or even one gram)
    contribute their single overall min-hash, mirroring the
    short-document fallback of the shingle operators.
    """
    gram_hash = lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast(  # noqa: E731
        "bigint"
    )
    t = F.lower(F.trim(text))
    base = df.select(F.col(id_col), t.alias("__t"), F.length(t).alias("__n"))
    # Repartition by id BEFORE the gram explosion: this is the exchange
    # the window requires anyway, but placed below the compact (id,
    # text) relation it (a) ships ~len/1 fewer rows than shuffling
    # exploded grams (~30x less payload here), (b) spreads the
    # CPU-heavy hashing across the cluster even when the scan has few
    # input splits, and (c) pins the stage width so AQE's size-based
    # coalescing (which only sees bytes, not CPU cost) cannot collapse
    # a compute-bound stage onto a handful of tasks. Measured 6x at
    # sf0.1 (3.2s -> 0.5s). The explicit partition count makes AQE
    # leave it alone.
    base = base.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    tiny = base.filter(F.col("__n") < k).select(
        F.col(id_col), gram_hash(F.col("__t")).alias("fp")
    )
    grams = (
        base.filter(F.col("__n") >= k)
        .select(
            F.col(id_col),
            (F.col("__n") - F.lit(k - 1)).alias("__m"),
            F.explode(
                F.sequence(F.lit(1), F.col("__n") - F.lit(k - 1))
            ).alias("__p"),
            F.col("__t"),
        )
        .select(
            F.col(id_col),
            F.col("__m"),
            F.col("__p"),
            gram_hash(F.substring(F.col("__t"), F.col("__p"), F.lit(k))).alias("__h"),
        )
    )
    from pyspark.sql import Window as W

    wspec = W.partitionBy(id_col).orderBy("__p").rowsBetween(0, w - 1)
    full = (
        grams.select(
            F.col(id_col),
            F.min("__h").over(wspec).alias("fp"),
            (F.col("__p") <= F.col("__m") - F.lit(w - 1)).alias("__full"),
        )
        .filter(F.col("__full"))
        .select(id_col, "fp")
    )
    short = (
        grams.filter(F.col("__m") < w)
        .groupBy(id_col)
        .agg(F.min("__h").alias("fp"))
    )
    return full.unionByName(short).unionByName(tiny).distinct()


def fuzzy_join_blocked(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_text: Column,
    right_text: Column,
    max_distance: int = 2,
    prefix_len: int = 2,
) -> DataFrame:
    """Entity-resolution fuzzy join: pairs whose strings are within
    ``max_distance`` edits, found without the cross product.

    Blocking: candidates must share a ``prefix_len``-char prefix AND
    have lengths within ``max_distance`` (a length gap > d already
    implies edit distance > d). The equi-join on the prefix is the
    shuffle key; the length band rides along as a range predicate, so
    cost scales with per-prefix block sizes, not |L|x|R|. Exact
    ``levenshtein`` verifies candidates — same definition in any
    engine, so the operator carries a full differential oracle (q77).

    Caveat (documented, inherent to prefix blocking): an edit inside
    the first ``prefix_len`` characters escapes the block. Standard
    mitigations at scale — multiple blocking passes (prefix, suffix,
    phonetic key) unioned — compose from this same operator.
    """
    l = left.select(  # noqa: E741
        F.col(left_id).alias("a_id"),
        left_text.alias("__lt"),
        F.substring(left_text, 1, prefix_len).alias("__blk"),
        F.length(left_text).alias("__ln"),
    )
    r = right.select(
        F.col(right_id).alias("b_id"),
        right_text.alias("__rt"),
        F.substring(right_text, 1, prefix_len).alias("__blk"),
        F.length(right_text).alias("__rn"),
    )
    cand = l.join(
        r,
        (l["__blk"] == r["__blk"])
        & (F.abs(l["__ln"] - r["__rn"]) <= max_distance),
    )
    return (
        cand.withColumn("distance", F.levenshtein(F.col("__lt"), F.col("__rt")))
        .filter(F.col("distance") <= max_distance)
        .select("a_id", "b_id", "distance")
    )


def duplicate_passage_spans(
    df: DataFrame,
    id_col: str,
    text: Column,
    n: int = 5,
    min_grams: int = 3,
) -> DataFrame:
    """Cross-document duplicate-passage spans: maximal runs of word
    positions whose ``n``-gram also occurs in at least one OTHER
    document, reported as (id, start_word, end_word, n_grams) for runs
    of >= ``min_grams`` consecutive duplicated grams (i.e. a shared
    passage of >= ``min_grams + n - 1`` words). Within-document repeats
    deliberately do NOT count (distinct-doc frequency >= 2): those are
    the repetition gate's domain (``q88``), not dedup's.

    The substring-level signal from published training-data dedup work
    (Lee et al. 2022): document-level MinHash misses the boilerplate
    paragraph pasted into thousands of otherwise-unique pages. Scale
    shape documented on ``q144_duplicate_passages``, which is this
    operator verbatim.
    """
    from pyspark.sql.window import Window as W

    if n < 1 or min_grams < 1:
        raise ValueError("n and min_grams must be >= 1")
    # Positional n-grams via shingle_rows(positions=True) — the
    # codegen'd explode/element_at form (the transform/slice HOF draft
    # was interpreted AND O(len^2) per document: each lambda evaluation
    # copies an n-slice of the words array — measured 4x slower on the
    # sf0.1 fixture). Hash the gram BEFORE any shuffle so only
    # fixed-width rows cross exchanges; xxhash64 (r13, was a 32-char
    # md5 string) quarters the shuffled key bytes and is far cheaper
    # to compute — the hash never leaves the operator (only span
    # geometry does), so this is the same 2^-64-collision convention
    # ``containment_pairs_text`` already uses. "Seen in >= 2 distinct
    # docs" is tested as min(id) != max(id) (r13): identical predicate
    # for non-null ids, without count_distinct's per-group distinct
    # set. Together: 1.74 -> 1.33 s best-of-4 interleaved at sf0.1,
    # identical span rows.
    grams = shingle_rows(
        df, id_col, text, n, widen=False, distinct=False, positions=True
    ).select(id_col, "pos", F.xxhash64("s").alias("h"))
    dup = (
        grams.groupBy("h")
        .agg((F.min(id_col) != F.max(id_col)).alias("__multi"))
        .filter(F.col("__multi"))
        .select("h")
    )
    hits = grams.join(dup, "h").select(id_col, "pos")
    w = W.partitionBy(id_col).orderBy("pos")
    isl = hits.withColumn("isl", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy(id_col, "isl")
        .agg(
            F.min("pos").alias("start_word"),
            (F.max("pos") + F.lit(n - 1)).alias("end_word"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .filter(F.col("n_grams") >= min_grams)
        .select(
            id_col,
            F.col("start_word").cast("int").alias("start_word"),
            F.col("end_word").cast("int").alias("end_word"),
            "n_grams",
        )
    )


def remove_duplicate_passages(
    df: DataFrame,
    id_col: str,
    text: Column,
    n: int = 5,
    min_grams: int = 3,
) -> DataFrame:
    """Cut cross-document duplicate passages OUT of the text — the
    removal step of Lee et al. 2022's substring dedup, where
    ``duplicate_passage_spans`` is the detection step: every exact
    repeated passage keeps its first occurrence (min ``(doc_id,
    start_word)`` across the corpus) and every other occurrence's
    words are deleted from their document. Returns one row per input
    document: ``(id, n_words, n_removed_words, clean_text)``.

    Passage identity is EXACT CONTENT (md5 of the span's words):
    spans that merely overlap partially across documents keep their
    text — conservative by design, so unique content is never cut;
    the span report (q144) still surfaces the partial overlaps for a
    human. Deletion intervals within a document may overlap after
    grouping; positions are deduplicated before the cut.

    Scale shape: detection is ``duplicate_passage_spans`` (fixed-width
    hashed rows across exchanges); the removal adds one words-with-
    position explode joined to the loser intervals on the doc id
    (intervals ≪ corpus) and one rebuild aggregate that shuffles
    document words on ``id_col`` ONCE — linear and unavoidable for an
    operator whose OUTPUT is the rewritten corpus. Word order is
    restored with an explicit sort inside the aggregate (collect_list
    order is not a contract)."""
    ws = F.split(F.trim(text), r"\s+")
    spans = duplicate_passage_spans(df, id_col, text, n, min_grams)
    base = df.select(F.col(id_col), ws.alias("__ws")).localCheckpoint()
    sp = spans.join(base, id_col).select(
        id_col,
        "start_word",
        "end_word",
        F.md5(
            F.array_join(
                F.slice(
                    F.col("__ws"),
                    F.col("start_word"),
                    F.col("end_word") - F.col("start_word") + 1,
                ),
                " ",
            )
        ).alias("__chash"),
    )
    winners = sp.groupBy("__chash").agg(
        F.min(F.struct(F.col(id_col), F.col("start_word"))).alias("__win")
    )
    losers = (
        sp.join(winners, "__chash")
        .filter(
            (F.col(id_col) != F.col("__win")[id_col])
            | (F.col("start_word") != F.col("__win")["start_word"])
        )
        .select(id_col, "start_word", "end_word")
    )
    pos = base.select(
        F.col(id_col),
        F.posexplode("__ws").alias("__p0", "__word"),
    ).withColumn("__pos", F.col("__p0") + 1)
    deleted = (
        pos.join(losers, id_col)
        .filter(
            (F.col("__pos") >= F.col("start_word"))
            & (F.col("__pos") <= F.col("end_word"))
        )
        .select(id_col, "__pos")
        .distinct()
    )
    kept = pos.join(deleted, [id_col, "__pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__word")))
                ),
                lambda x: x["__word"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col), F.size(ws).alias("__n_words"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.greatest(F.col("__n_words"), F.lit(0)).alias("n_words"),
            (
                F.greatest(F.col("__n_words"), F.lit(0))
                - F.coalesce(F.col("__n_kept"), F.lit(0))
            ).alias("n_removed_words"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def containment_pairs_text(
    df: DataFrame,
    id_col: str,
    text: Column,
    n: int = 3,
    threshold: float = 0.9,
    cache: bool = False,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs — the asymmetric near-dup signal
    Jaccard structurally misses: C(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|
    is ~1 when A is an excerpt/quote of a much larger B, while
    J(A, B) = |∩|/|∪| stays near |A|/|B| (tiny). Training corpora are
    full of exactly this shape (articles quoting documents, pages
    embedding boilerplate-wrapped copies), and document-level Jaccard
    or MinHash thresholds let it all through — containment is the
    document-level complement to q144's passage spans.

    Output: one row per unordered pair with ``greatest(c_ab, c_ba) >=
    threshold``, both directions reported (a_id < b_id; c_ab = how much
    of A is inside B). Thresholding on the raw ratio, rounding to 4 for
    output — _jaccard_from_inter's convention. The ratios divide two
    exact int64 counts, so they are bit-identical across engines.

    Scale shape is q41's: one shingle pass, inverted-index self-join on
    64-bit shingle hashes (pairs only where shingles collide), per-pair
    intersection counts; ``max_doc_freq`` enables the same stop-shingle
    cap when boilerplate shingles go hot. Same linear-in-output floor
    as q41 — the candidate generator is shared machinery, only the
    scoring tail differs.
    """
    ex = shingle_rows(df, id_col, text, n).select(
        F.col(id_col), F.xxhash64("s").alias("s")
    )
    if max_doc_freq is not None:
        ex = cap_shingle_doc_freq(ex, id_col, "s", max_doc_freq)
    if cache:
        ex = ex.cache()
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("__c_ab", F.col("inter") / F.col("n_a"))
        .withColumn("__c_ba", F.col("inter") / F.col("n_b"))
        .filter(F.greatest("__c_ab", "__c_ba") >= threshold)
        .select(
            "a_id",
            "b_id",
            F.round("__c_ab", 4).alias("containment_ab"),
            F.round("__c_ba", 4).alias("containment_ba"),
        )
    )
