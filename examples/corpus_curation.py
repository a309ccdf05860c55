"""Runnable end-to-end corpus-curation demo — the q75 pipeline,
unrolled into its operator calls so each stage's effect is visible.

    python examples/corpus_curation.py [sf_dir]

Stages: load -> plant near-duplicates -> MinHash-LSH candidate pairs ->
exact-Jaccard verify -> connected-components clustering -> keep
canonical docs -> quality gate -> per-language stratified sample.
Prints row counts after every stage. Defaults to the smallest fixture.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from gov_data_pipeline_spark.catalog import read_table
from gov_data_pipeline_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_doc_profile,
    shingle_rows,
    verify_candidates_hashset,
)
from gov_data_pipeline_spark.operators.graph import dedup_clusters
from gov_data_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="corpus-curation-demo")

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    mutants = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" qq zz")).alias("text"),
        "lang",
    )
    _LO = "abcdefghijklmnopqrstuvwxyz"
    shouty = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.translate("text", _LO, _LO.upper()), F.lit(" !!")).alias("text"),
        "lang",
    )
    corpus = docs.unionByName(mutants).unionByName(shouty)
    print(f"corpus (docs + planted near-dups + SHOUTING variants): {corpus.count()}")

    # --- stage -1: PII scrub — masking runs before ANYTHING else sees
    # the text (q194's operator; emails/IPs/phones become typed
    # tokens, so no later stage — keys, shingles, features, exports —
    # can leak a raw identifier) --------------------------------------
    from gov_data_pipeline_spark.transforms import pii_count_col, scrub_pii_col

    n_pii = (
        pii_count_col(F.col("text"), "email")
        + pii_count_col(F.col("text"), "ip")
        + pii_count_col(F.col("text"), "phone")
    )
    # detection metric, not "spans masked": per-family counts run on
    # the ORIGINAL text, and the sequential scrub can mask an
    # overlapping span once that two families each counted
    n_docs_pii = corpus.filter(n_pii > 0).count()
    corpus = corpus.withColumn("text", scrub_pii_col(F.col("text")))
    print(f"docs with PII spans detected (pre-scrub): {n_docs_pii}")

    # --- stage 0: normalized ("fuzzy-exact") dedup — case/punctuation
    # variants collapse on the canonical key before any similarity work
    # (q159's rule; far cheaper than shingling, so it runs first) -----
    from gov_data_pipeline_spark.transforms import canonical_text_col

    wk = F.md5(canonical_text_col(F.col("text")))
    from pyspark.sql import Window

    keep_min = F.col("doc_id") == F.min("doc_id").over(Window.partitionBy(wk))
    corpus = corpus.withColumn("__keep", keep_min).filter("__keep").drop("__keep")
    print(f"after canonical-key dedup: {corpus.count()}")

    # one profile row per doc (signature + shingle-hash set) feeds both
    # the band join and the exact-Jaccard verify, as in q75
    ex = shingle_rows(corpus, "doc_id", F.col("text"), 3, widen=False, distinct=False)
    prof = minhash_doc_profile(ex, "doc_id", num_hashes=32)
    cands = lsh_candidate_pairs(prof, "doc_id", "sig", bands=8, rows_per_band=4, sig_len=32)
    print(f"LSH candidate pairs: {cands.count()}")

    pairs = verify_candidates_hashset(cands, prof, "doc_id", threshold=0.5)
    print(f"verified near-dup pairs (jaccard >= 0.5): {pairs.count()}")

    labeled = dedup_clusters(pairs.select("a_id", "b_id"), corpus, "doc_id")
    kept = labeled.filter(F.col("is_canonical"))
    print(f"canonical docs after clustering: {kept.count()}")

    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    gated = kept.withColumn("n_words", n_words).filter(F.col("n_words") >= 10)
    print(f"after quality gate (>= 10 words): {gated.count()}")

    from gov_data_pipeline_spark.functions.sampling import hash_bucket_col

    bucket = hash_bucket_col(F.col("doc_id"))
    cut = F.when(F.col("lang") == "en", F.lit(128)).otherwise(F.lit(256))
    sampled = gated.withColumn("hash_bucket", bucket).filter(F.col("hash_bucket") < cut)
    print("final sample by language:")
    for r in sampled.groupBy("lang").count().orderBy("lang").collect():
        print(f"  {r['lang']}: {r['count']}")

    # --- passage-level audit: boilerplate spans document-level dedup
    # missed (q144's operator over the KEPT corpus) -------------------
    from gov_data_pipeline_spark.operators.dedup import duplicate_passage_spans

    # `kept` already carries doc_id/text (dedup_clusters labels the
    # full corpus) — no semi-join needed to rebuild the canonical set
    spans = duplicate_passage_spans(
        kept, "doc_id", F.col("text"), n=5, min_grams=3
    )
    print(f"cross-doc duplicate-passage spans among canonical docs: {spans.count()}")

    # --- containment removal: excerpts/quotes symmetric Jaccard
    # misses — C(A in B) ~ 1 flags A as (mostly) inside B (q158's
    # operator), and the keep-the-superset decision (q163's) then
    # DROPS the contained side instead of just reporting it ----------
    from gov_data_pipeline_spark.operators.dedup import containment_pairs_text
    from gov_data_pipeline_spark.operators.graph import containment_dedup

    contained = containment_pairs_text(
        kept, "doc_id", F.col("text"), n=3, threshold=0.9
    )
    print(f"high-containment pairs among canonical docs: {contained.count()}")
    # drop the Jaccard-cluster labels first: containment_dedup attaches
    # its own component column over the containment edges
    decided = containment_dedup(
        contained,
        kept.drop("component", "is_canonical"),
        "doc_id",
        threshold=0.9,
    )
    kept = decided.filter(F.col("kept")).drop("kept")
    print(f"after keep-the-superset containment removal: {kept.count()}")

    # --- learned quality filter: the fastText-shaped linear scorer
    # (q164's operator) over hashed unigram+bigram features; here the
    # deterministic pseudo-model stands in for trained weights --------
    from gov_data_pipeline_spark.operators.scoring import (
        pseudo_weights,
        score_linear_model,
    )

    scored = score_linear_model(
        kept.select("doc_id", "text"),
        "doc_id",
        F.col("text"),
        pseudo_weights(spark, n_features=1 << 18),
        n_features=1 << 18,
    )
    n_pass = scored.filter(F.col("kept")).count()
    print(f"learned quality filter pass rate: {n_pass}/{scored.count()}")

    # --- leakage-safe split: hash the CLUSTER representative so
    # near-dups never straddle train/val (q145's rule, reusing the
    # clustering already computed above) ------------------------------
    # (sampled descends from the clustering output, so it already
    # carries the component column — no re-join needed)
    split = sampled.withColumn(
        "split",
        F.when(hash_bucket_col(F.col("component")) < 204, "train").otherwise(
            "val"
        ),
    )
    for r in split.groupBy("split").count().orderBy("split").collect():
        print(f"  {r['split']}: {r['count']}")

    # --- whole-document packing: next-fit-decreasing bins, no doc ever
    # split (q149's operator; text never enters the Python stage) -----
    from gov_data_pipeline_spark.functions.chunking import pack_documents_nfd

    sized = split.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        (hash_bucket_col(F.col("doc_id")) % 4).cast("int").alias("shard"),
    )
    packed = pack_documents_nfd(sized, "doc_id", "n_chars", "shard", capacity=1200)
    n_bins = packed.select("shard", "bin").distinct().count()
    print(f"packed {packed.count()} docs into {n_bins} bins of <= 1200 chars")

    # --- threshold selection for the learned filter: reduce the scored
    # corpus to a (band, n_pos, n_neg) histogram and sweep cumulative
    # precision/recall over THAT (q179's shape — the window never sees
    # per-document rows), then ship the best-F1 threshold -------------
    from pyspark.sql import Window as W

    # scored carries text through (score_linear_model keeps input
    # columns) — and the label must null-guard like q179: a NULL text
    # would otherwise silently vanish from both histogram sides
    labeled = scored.select(
        F.floor(F.col("logit") / 4096).cast("long").alias("band"),
        F.coalesce(
            F.col("text").contains("spark").cast("int"), F.lit(0)
        ).alias("y"),
    )
    hist = labeled.groupBy("band").agg(
        F.sum("y").alias("n_pos"), F.sum(1 - F.col("y")).alias("n_neg")
    )
    win = W.orderBy(F.col("band").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    curve = (
        hist.withColumn("tp", F.sum("n_pos").over(win))
        .withColumn("fp", F.sum("n_neg").over(win))
        .crossJoin(F.broadcast(hist.agg(F.sum("n_pos").alias("P"))))
        .select(
            (F.col("band") * 4096).alias("threshold"),
            F.round(
                2 * F.col("tp") / (F.col("tp") + F.col("fp") + F.col("P")), 4
            ).alias("f1"),
        )
    )
    best = curve.orderBy(F.col("f1").desc(), F.col("threshold")).first()
    if best is not None:
        print(
            f"best-F1 keep threshold: logit >= {best['threshold']}"
            f" (F1 {best['f1']})"
        )

    # --- semantic (embedding-space) dedup tier: SemDeDup's clustering
    # partitioner — nearest-seed cells bound the pairwise work, one
    # numpy GEMM per cell finds near-identical vectors (q181's
    # operator); here it audits the embedding table for the doc ids
    # that survived curation -------------------------------------------
    from gov_data_pipeline_spark.operators.similarity import (
        cell_cosine_pairs_gemm,
        semdedup_cells,
    )

    emb = read_table(spark, sf_dir, "embeddings").join(
        kept.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi"
    )
    cells = semdedup_cells(emb, "vec_id", "embedding").localCheckpoint()
    k = cells.agg(F.max("cell")).first()[0]
    sem_pairs = cell_cosine_pairs_gemm(
        cells, "vec_id", "cell", "embedding", threshold=0.99
    )
    print(
        f"semantic near-dup pairs within {k} SemDeDup cells: "
        f"{sem_pairs.count()}"
    )


if __name__ == "__main__":
    main()
