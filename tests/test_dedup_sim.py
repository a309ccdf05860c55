"""Recall/consistency tests pinning the sketch-based operators (which
have no SQL oracle) against their exact counterparts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gov_data_pipeline_spark.operators.graph import _DRIVER_MAX_EDGES
from gov_data_pipeline_spark.queries.dedup_sim import (
    _MUT_OFFSET,
    q41_jaccard_pairs,
    q42_minhash_lsh,
    q43_simhash,
    q44_cosine_topk,
    q45_ann_lsh,
)


def test_minhash_recall_vs_exact(spark, sf_dir):
    exact = {
        (r["a_id"], r["b_id"])
        for r in q41_jaccard_pairs(spark, sf_dir).collect()
        if r["jaccard"] >= 0.8  # high-sim pairs: LSH recall ~1 here
    }
    lsh = {(r["a_id"], r["b_id"]) for r in q42_minhash_lsh(spark, sf_dir).collect()}
    assert exact, "test corpus must contain high-similarity pairs"
    missed = exact - lsh
    assert len(missed) / len(exact) <= 0.02, f"LSH missed {len(missed)}/{len(exact)}"
    # every original/mutant pair is a planted near-dup; LSH must find them
    planted = {p for p in exact if p[1] - p[0] == _MUT_OFFSET}
    assert planted and planted <= lsh


def test_simhash_finds_planted_pairs(spark, sf_dir):
    pairs = {(r["a_id"], r["b_id"]) for r in q43_simhash(spark, sf_dir).collect()}
    planted_found = [p for p in pairs if p[1] - p[0] == _MUT_OFFSET]
    # SimHash with hamming<=8 should catch most 2-token mutations
    n_planted = len(
        [r for r in pairs if r[1] >= _MUT_OFFSET]
    )
    assert len(planted_found) >= 1
    assert n_planted >= len(planted_found)  # sanity: planted ⊆ found-with-mutant


def test_ann_overlaps_exact_topk(spark, sf_dir):
    exact = q44_cosine_topk(spark, sf_dir).collect()
    approx = q45_ann_lsh(spark, sf_dir).collect()
    exact_top = {}
    for r in exact:
        exact_top.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    hit = total = 0
    for r in approx:
        total += 1
        if r["neighbor_id"] in exact_top.get(r["vec_id"], set()):
            hit += 1
    # 8-bit hyperplane LSH on random 64-dim vectors: expect meaningful
    # but partial overlap; this is a smoke floor, not a quality bar.
    assert total > 0
    assert hit / total > 0.05


def test_exact_dedup_removes_planted_dups(spark, sf_dir):
    from gov_data_pipeline_spark.queries.dedup_sim import q40_exact_dedup

    kept = [r["doc_id"] for r in q40_exact_dedup(spark, sf_dir).collect()]
    assert all(k < _MUT_OFFSET for k in kept)  # originals always win
    assert len(kept) == len(set(kept))


def test_ivf_overlaps_exact_topk(spark, sf_dir):
    from gov_data_pipeline_spark.queries.dedup_sim import q55_ann_ivf

    exact = q44_cosine_topk(spark, sf_dir).collect()
    approx = q55_ann_ivf(spark, sf_dir).collect()
    exact_top = {}
    for r in exact:
        exact_top.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    hit = total = 0
    for r in approx:
        total += 1
        if r["neighbor_id"] in exact_top.get(r["vec_id"], set()):
            hit += 1
    assert total > 0
    # random 64-dim vectors have weak cluster structure; this is a smoke
    # floor proving the cells are not degenerate, not a quality bar
    assert hit / total > 0.05


def test_ivf_external_centroids(spark, sf_dir):
    """ivf_topk(centroids=...) (r12): passing the 16 lowest-id corpus
    vectors explicitly reproduces the default's output EXACTLY (same
    deterministic pipeline, just sourced from a table), and a
    differently-chosen centroid table still yields k well-formed
    neighbors per query — the externally-trained-centroid hook is the
    production IVF recipe (k-means a sample once, persist, reuse)."""
    from pyspark.sql import functions as F

    from gov_data_pipeline_spark.catalog import read_table
    from gov_data_pipeline_spark.operators.similarity import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    def rows(df):
        return sorted(
            (r["vec_id"], r["neighbor_id"], r["cosine_sim"], r["rk"])
            for r in df.collect()
        )

    default = ivf_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding",
        k=3, n_centroids=16, n_probe=2,
    )
    explicit_cents = (
        emb.orderBy(F.col("vec_id").asc()).limit(16)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid"))
    )
    explicit = ivf_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding",
        k=3, n_probe=2, centroids=explicit_cents,
    )
    assert rows(default) == rows(explicit)
    # a different (shifted) centroid set: still k rows per query,
    # ranks 1..k, sims in [-1, 1]
    other_cents = (
        emb.filter(F.col("vec_id") >= 100)
        .orderBy(F.col("vec_id").asc()).limit(8)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid"))
    )
    got = ivf_topk(
        queries, emb, "vec_id", "vec_id", "embedding", "embedding",
        k=3, n_probe=2, centroids=other_cents,
    ).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["vec_id"], []).append(r["rk"])
        assert -1.0 <= r["cosine_sim"] <= 1.0
    assert per_q and all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_gemm_neardup_matches_exact(spark, sf_dir):
    from gov_data_pipeline_spark.queries.dedup_sim import (
        q46_cosine_neardup,
        q56_cosine_neardup_gemm,
    )

    exact = {(r["a_id"], r["b_id"]): r["cosine_sim"]
             for r in q46_cosine_neardup(spark, sf_dir).collect()}
    gemm = {(r["a_id"], r["b_id"]): r["cosine_sim"]
            for r in q56_cosine_neardup_gemm(spark, sf_dir).collect()}
    # pair sets may differ only for sims within ulp of the threshold
    only_exact = {p for p in exact if p not in gemm and abs(exact[p] - 0.99) > 1e-6}
    only_gemm = {p for p in gemm if p not in exact and abs(gemm[p] - 0.99) > 1e-6}
    assert not only_exact and not only_gemm
    for p in exact.keys() & gemm.keys():
        assert abs(exact[p] - gemm[p]) <= 1e-3


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing guarantee: docs sharing a substring of length
    >= w + k - 1 (= 23 at k=8, w=16) share at least one fingerprint;
    unrelated docs share none (md5 collision odds ~0)."""
    from pyspark.sql import functions as F

    from gov_data_pipeline_spark.operators.dedup import winnowing_fingerprints_df

    shared = "the quick brown fox jumps over the lazy dog"  # 44 chars
    rows = [
        (1, "PREFIX one " + shared + " SUFFIX alpha"),
        (2, "totally different start " + shared + " other ending"),
        (3, "no overlap here at all, completely unrelated content xyz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints_df(df, "doc_id", F.col("text")).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 44-char substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnowing_short_docs(spark):
    """Docs shorter than a window (or a gram) still fingerprint."""
    from pyspark.sql import functions as F

    from gov_data_pipeline_spark.operators.dedup import winnowing_fingerprints_df

    df = spark.createDataFrame(
        [(1, "tiny"), (2, "twelve chars"), (3, "x" * 30)],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints_df(df, "doc_id", F.col("text")).collect()
    docs = {r["doc_id"] for r in fps}
    assert docs == {1, 2, 3}


def test_stop_shingle_cap_kills_boilerplate_pairs(spark):
    """Stop-shingle capping: a boilerplate header shared by ALL docs
    must not generate candidate pairs once capped, while a genuine
    near-dup pair (sharing rare shingles) still surfaces."""
    from pyspark.sql import functions as F

    from gov_data_pipeline_spark.operators.dedup import jaccard_pairs_text

    header = (
        "standard government form header please read carefully before signing "
        "this document is the property of the issuing authority and must be "
        "returned upon request do not detach any pages"
    )
    bodies = [
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        "kilo lima mike november oscar papa quebec romeo sierra tango",
        "uniform victor whiskey xray yankee zulu one two three four",
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet extra",  # near-dup of 0
    ]
    df = spark.createDataFrame(
        [(i, f"{header} {b}") for i, b in enumerate(bodies)],
        "doc_id long, text string",
    )
    uncapped = jaccard_pairs_text(df, "doc_id", F.col("text"), n=3, threshold=0.3)
    capped = jaccard_pairs_text(
        df, "doc_id", F.col("text"), n=3, threshold=0.3, max_doc_freq=3
    )
    un_pairs = {(r["a_id"], r["b_id"]) for r in uncapped.collect()}
    cap_pairs = {(r["a_id"], r["b_id"]) for r in capped.collect()}
    # boilerplate makes every pair look >=0.3 similar uncapped
    assert len(un_pairs) == 6
    # capped: only the genuine near-dup survives
    assert cap_pairs == {(0, 3)}


def _cc_both_paths(monkeypatch, pairs):
    """``connected_components`` on the driver-side path and, with the
    size gate at 0, on the distributed star rounds — those once with
    ``localCheckpoint`` pins and once with ``reliable_checkpoint=True``
    (the session's ``checkpoint_dir``). Asserts all three agree on
    labels and column types; returns the labels."""
    from gov_data_pipeline_spark.operators import graph

    results = []
    for bound, reliable in ((_DRIVER_MAX_EDGES, False), (0, False), (0, True)):
        monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", bound)
        out = graph.connected_components(pairs, reliable_checkpoint=reliable)
        types = [(f.name, f.dataType) for f in out.schema.fields]
        results.append((types, {r["node"]: r["component"] for r in out.collect()}))
    assert results[0] == results[1] == results[2]
    types, comp = results[0]
    id_type = pairs.schema["a_id"].dataType
    assert types == [("node", id_type), ("component", id_type)]
    return comp


@pytest.mark.usefixtures("checkpoint_dir")
class TestConnectedComponents:
    def test_chain_star_and_isolated(self, spark, monkeypatch):
        """Chain 1-2-3-4, separate pair 10-11, and a hub 20-{21,22,23};
        component = min member; isolated corpus docs label themselves."""
        from gov_data_pipeline_spark.operators import graph

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22), (20, 23)],
            "a_id long, b_id long",
        )
        comp = _cc_both_paths(monkeypatch, pairs)
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                        20: 20, 21: 20, 22: 20, 23: 20}

        corpus = spark.createDataFrame(
            [(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 23, 99]],
            "doc_id long",
        )
        for bound in (_DRIVER_MAX_EDGES, 0):
            monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", bound)
            lab = graph.dedup_clusters(pairs, corpus, "doc_id").collect()
            by_id = {r["doc_id"]: (r["component"], r["is_canonical"]) for r in lab}
            assert by_id[99] == (99, True)  # isolated doc is its own canonical
            assert by_id[4] == (1, False)
            assert sum(1 for c, canon in by_id.values() if canon) == 4

    def test_two_cliques_merge_via_bridge(self, spark, monkeypatch):
        edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]
        edges += [(10 + i, 10 + j) for i in range(5) for j in range(i + 1, 5)]
        edges += [(4, 10)]  # bridge
        pairs = spark.createDataFrame(edges, "a_id long, b_id long")
        comp = _cc_both_paths(monkeypatch, pairs)
        assert set(comp.values()) == {0}
        assert len(comp) == 10

    def test_string_ids_label_with_the_smallest_string(self, spark, monkeypatch):
        pairs = spark.createDataFrame(
            [("doc-b", "doc-a"), ("doc-c", "doc-b"), ("x9", "x10")],
            "a_id string, b_id string",
        )
        comp = _cc_both_paths(monkeypatch, pairs)
        assert comp == {"doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
                        "x10": "x10", "x9": "x10"}

    def test_edge_with_a_null_endpoint_is_ignored(self, spark, monkeypatch):
        pairs = spark.createDataFrame(
            [(1, 2), (2, None), (None, 3), (None, None), (5, 6)],
            "a_id long, b_id long",
        )
        comp = _cc_both_paths(monkeypatch, pairs)
        assert comp == {1: 1, 2: 1, 5: 5, 6: 5}

    def test_self_loops_only_give_an_empty_result(self, spark, monkeypatch):
        pairs = spark.createDataFrame([(1, 1), (7, 7), (7, 7)], "a_id long, b_id long")
        assert _cc_both_paths(monkeypatch, pairs) == {}

    def test_driver_path_counts_on_the_lazy_checkpoint(self, spark):
        """Below the bound one job counts the edges and materializes
        their lazy checkpoint, and one collect reads it back:
        ``dedup_clusters`` starts 6 jobs. An eager checkpoint, an
        aggregate count (two jobs under AQE) and the collect took 8."""
        from gov_data_pipeline_spark.operators.graph import dedup_clusters

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22)], "a_id long, b_id long"
        ).repartition(3)
        corpus = spark.range(30).withColumnRenamed("id", "doc_id")
        sc = spark.sparkContext
        sc.setJobGroup("cc-driver-path", "cc-driver-path")
        try:
            rows = dedup_clusters(pairs, corpus, "doc_id").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("cc-driver-path")) <= 6
        assert {r["doc_id"]: r["component"] for r in rows}[22] == 20

    @pytest.mark.parametrize("reliable", [False, True])
    def test_star_path_computes_the_pairs_once(self, spark, monkeypatch, reliable):
        """Above the bound the star rounds start from the checkpoint that
        the count materialized: the pairs are evaluated as often as on
        the driver path, i.e. once. The counter sits before the
        distinct's shuffle, so it sees a second plan of the pairs, not
        a rerun of the stage after that shuffle."""
        from gov_data_pipeline_spark.operators import graph

        evals = spark.sparkContext.accumulator(0)

        @F.udf("long")
        def counted(x):
            evals.add(1)
            return x

        pairs = (
            spark.createDataFrame(
                [(1, 2), (2, 3), (3, 4), (10, 11)], "a_id long, b_id long"
            )
            .repartition(3)
            .select(counted("a_id").alias("a_id"), "b_id")
        )
        seen = []
        for bound in (_DRIVER_MAX_EDGES, 0):
            monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", bound)
            evals.value = 0
            graph.connected_components(pairs, reliable_checkpoint=reliable).collect()
            seen.append(evals.value)
        assert seen[0] > 0 and seen[1] == seen[0], seen


class TestSearch:
    def test_bm25_rare_term_dominates(self, spark):
        """A doc containing only the rare query term outscores docs with
        many hits on a ubiquitous term (the idf property)."""
        from gov_data_pipeline_spark.operators.search import bm25_scores
        import pyspark.sql.functions as F

        rows = [(1, "rare common common"), (2, "common common common common")]
        rows += [(i, "common filler words here") for i in range(3, 20)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        bm = {
            r["doc_id"]: r["bm25"]
            for r in bm25_scores(
                docs, "doc_id", F.col("text"), ["rare", "common"]
            ).collect()
        }
        assert bm[1] > bm[2]

    def test_bm25_omits_nonmatching_docs(self, spark):
        from gov_data_pipeline_spark.operators.search import bm25_scores
        import pyspark.sql.functions as F

        docs = spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
        )
        out = bm25_scores(docs, "doc_id", F.col("text"), ["alpha"]).collect()
        assert [r["doc_id"] for r in out] == [1]


class TestFuzzyJoin:
    def test_matches_within_distance_and_blocks(self, spark):
        from gov_data_pipeline_spark.operators.dedup import fuzzy_join_blocked
        import pyspark.sql.functions as F

        left = spark.createDataFrame(
            [(1, "abcdef"), (2, "abcxyz"), (3, "zzzzzz")],
            "id long, name string",
        )
        right = spark.createDataFrame(
            [(10, "abcdeg"), (11, "abcxyzzz"), (12, "qqqqqq")],
            "id long, name string",
        )
        out = {
            (r["a_id"], r["b_id"]): r["distance"]
            for r in fuzzy_join_blocked(
                left, right, "id", "id", F.col("name"), F.col("name"),
                max_distance=2, prefix_len=3,
            ).collect()
        }
        assert out == {(1, 10): 1, (2, 11): 2}  # zzzzzz/qqqqqq: no block

    def test_prefix_edit_escapes_block_documented(self, spark):
        """An edit inside the blocking prefix is missed — the documented
        trade-off of single-pass prefix blocking."""
        from gov_data_pipeline_spark.operators.dedup import fuzzy_join_blocked
        import pyspark.sql.functions as F

        left = spark.createDataFrame([(1, "Xbcdef")], "id long, name string")
        right = spark.createDataFrame([(10, "abcdef")], "id long, name string")
        assert (
            fuzzy_join_blocked(
                left, right, "id", "id", F.col("name"), F.col("name"),
                max_distance=2, prefix_len=3,
            ).count()
            == 0
        )


class TestChunkingAndPacking:
    def test_chunk_boundaries_and_overlap(self, spark):
        from gov_data_pipeline_spark.functions.chunking import chunk_documents

        # 35 words -> chunks at stride 15: [0:20), [15:35) -> exactly 2
        text35 = " ".join(f"w{i}" for i in range(35))
        df = spark.createDataFrame([(1, text35), (2, "short doc")], "id long, t string")
        rows = chunk_documents(df, "id", "t", chunk_size=20, overlap=5).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["id"], []).append((r["chunk_id"], r["chunk"]))
        assert [c for c, _ in sorted(by_doc[1])] == [0, 1]
        c0, c1 = (t for _, t in sorted(by_doc[1]))
        assert c0.split() == [f"w{i}" for i in range(20)]
        assert c1.split() == [f"w{i}" for i in range(15, 35)]
        # overlap region appears in both chunks
        assert set(c0.split()) & set(c1.split()) == {f"w{i}" for i in range(15, 20)}
        # short doc: one chunk, itself
        assert by_doc[2] == [(0, "short doc")]

    def test_chunk_param_validation(self, spark):
        import pytest

        from gov_data_pipeline_spark.functions.chunking import chunk_documents

        df = spark.createDataFrame([(1, "x")], "id long, t string")
        with pytest.raises(ValueError):
            chunk_documents(df, "id", "t", chunk_size=10, overlap=10)

    def test_pack_sequences_budget_and_partition(self, spark):
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.functions.chunking import pack_sequences

        # 5 docs of 3 tokens each, budget 6 -> packs 0,0,1,1,2 per shard
        rows = [(i, "a", "x y z") for i in range(5)] + [(10, "b", "x y z")]
        df = spark.createDataFrame(rows, "id long, shard string, t string")
        out = pack_sequences(
            df, "id", "t", budget=6, partition_col="shard",
            tokens=F.lit(3).cast("bigint"),
        ).collect()
        got = {(r["shard"], r["id"]): r["pack_id"] for r in out}
        assert [got[("a", i)] for i in range(5)] == [0, 0, 1, 1, 2]
        # a new shard restarts its packing at 0
        assert got[("b", 10)] == 0

    def test_pack_sequences_global_window(self, spark):
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.functions.chunking import pack_sequences

        df = spark.createDataFrame(
            [(i, "x y z") for i in range(5)], "id long, t string"
        )
        out = pack_sequences(
            df, "id", "t", budget=6, tokens=F.lit(3).cast("bigint")
        ).collect()
        assert sorted((r["id"], r["pack_id"]) for r in out) == [
            (0, 0), (1, 0), (2, 1), (3, 1), (4, 2),
        ]


class TestReviewRegressions:
    """Pins for the round-4 review findings (each was an empirically
    confirmed bug before its fix)."""

    def test_exact_dedup_null_columns_do_not_collide(self, spark):
        from gov_data_pipeline_spark.operators.dedup import exact_dedup

        df = spark.createDataFrame(
            [(1, "x", None), (2, None, "x"), (3, "x", None)],
            "id long, a string, b string",
        )
        kept = sorted(r["id"] for r in exact_dedup(df, ["a", "b"], "id").collect())
        # (x, NULL) and (NULL, x) are DIFFERENT contents; only the true
        # duplicate id=3 drops (concat_ws used to hash both to 'x')
        assert kept == [1, 2]

    def test_cosine_zero_norm_vector_does_not_crash(self, spark):
        from gov_data_pipeline_spark.operators.similarity import cosine_topk

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        q = df.filter("vec_id = 1")
        # ANSI mode: '/' would throw DIVIDE_BY_ZERO on the zero vector
        rows = cosine_topk(df, df, "vec_id", "vec_id", "embedding", "embedding", k=3).collect()
        assert len(rows) > 0  # job completes; null cosines sort last

    def test_simhash_df_keeps_empty_token_docs(self, spark):
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.operators.dedup import simhash_df

        df = spark.createDataFrame(
            [(1, ["a", "b"]), (2, [])], "id long, toks array<string>"
        )
        out = {r["id"]: r["simhash"] for r in simhash_df(df, "id", "toks").collect()}
        assert set(out) == {1, 2}  # inner join used to drop id=2
        assert out[2] == 0  # parity with the expression form

    def test_minhash_signatures_df_keeps_empty_shingle_docs(self, spark):
        from gov_data_pipeline_spark.operators.dedup import minhash_signatures_df

        df = spark.createDataFrame(
            [(1, ["s1"]), (2, [])], "id long, sh array<string>"
        )
        out = {r["id"]: r["sig"] for r in minhash_signatures_df(df, "id", "sh", num_hashes=4).collect()}
        assert set(out) == {1, 2}
        assert out[2] == [None, None, None, None]  # expression-form parity

    def test_minhash_sql_signatures_match_the_per_term_form(self, spark):
        """The one-SQL-string signatures equal one Column per hash term,
        bit for bit, and a caller's column names are never parsed."""
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.operators.dedup import (
            md5_h1h2,
            minhash_doc_profile,
            minhash_signatures_df,
        )

        ex = spark.createDataFrame(
            [(1, "a b c"), (1, "b c d"), (2, "x y z"), (3, "é ü ß")],
            "`doc id` long, s string",
        )
        h1, h2 = md5_h1h2(F.col("s"))
        terms = {
            "md5": [F.min(h1 + i * h2) for i in range(32)],
            "xxhash64": [F.min(F.xxhash64(F.lit(i), F.col("s"))) for i in range(32)],
        }
        want = {}
        for fam, mins in terms.items():
            want[fam] = {
                r[0]: r[1] for r in ex.groupBy("doc id").agg(F.array(*mins)).collect()
            }
            prof = minhash_doc_profile(ex, "doc id", 32, hash_family=fam)
            assert {r["doc id"]: r["sig"] for r in prof.collect()} == want[fam]
        arrays = ex.groupBy("doc id").agg(F.collect_list("s").alias("sh s"))
        sigs = minhash_signatures_df(arrays, "doc id", "sh s")
        assert {r["doc id"]: r["sig"] for r in sigs.collect()} == want["xxhash64"]

    def test_shingle_rows_unigrams(self, spark):
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.operators.dedup import shingle_rows

        df = spark.createDataFrame([(1, "a b a")], "id long, t string")
        rows = shingle_rows(df, "id", F.col("t"), n=1).collect()
        assert sorted(r["s"] for r in rows) == ["a", "b"]  # used to IndexError

    def test_lsh_candidate_pairs_validates_banding(self, spark):
        import pytest

        from gov_data_pipeline_spark.operators.dedup import lsh_candidate_pairs

        df = spark.createDataFrame([(1, [1, 2, 3, 4])], "id long, sig array<long>")
        with pytest.raises(ValueError, match="exceeds signature length"):
            lsh_candidate_pairs(df, "id", "sig", bands=16, rows_per_band=4, sig_len=32)

    def test_bm25_query_terms_case_normalized(self, spark):
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.operators.search import bm25_scores

        docs = spark.createDataFrame(
            [(1, "Paris is large"), (2, "berlin only")], "id long, t string"
        )
        rows = bm25_scores(docs, "id", F.col("t"), ["Paris"]).collect()
        assert [r["id"] for r in rows] == [1]  # capitalized query used to match nothing


def test_q47_fused_matches_compositional(spark, sf_dir):
    """q47's fused single-scan-per-regex form must stay bit-identical
    to the compositional textstats API it optimized away."""
    from pyspark.sql import functions as F

    from gov_data_pipeline_spark.catalog import read_table
    from gov_data_pipeline_spark.functions.textstats import (
        n_tokens_col,
        n_words_col,
        punct_ratio_col,
        quality_score_col,
        stopword_ratio_col,
    )
    from gov_data_pipeline_spark.queries.dedup_sim import q47_text_stats

    t = F.col("text")
    reference = (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.length(t).cast("bigint").alias("n_chars"),
            n_words_col(t).alias("n_words"),
            n_tokens_col(t).alias("n_tokens"),
            F.round(punct_ratio_col(t), 4).alias("punct_ratio"),
            F.round(stopword_ratio_col(t), 4).alias("stopword_ratio"),
            quality_score_col(t).alias("quality"),
        )
        .orderBy("doc_id")
        .toPandas()
    )
    fused = q47_text_stats(spark, sf_dir).toPandas()
    assert fused.equals(reference)


class TestPageRank:
    def test_star_graph_center_dominates(self, spark):
        """Hub-and-spoke: every spoke links to the center; the center
        links to one spoke. Center rank must dominate, spokes that
        receive nothing sit at the base mass, and total mass stays
        conserved (float mode redistributes nothing, so mass = 1 minus
        nothing here: every node has out-edges)."""
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.operators.graph import pagerank

        n = 10
        nodes = spark.range(n).select(F.col("id"))
        spokes = spark.range(1, n).select(
            F.col("id").alias("src"), F.lit(0).alias("dst")
        )
        center = spark.createDataFrame([(0, 1)], "src long, dst long")
        edges = spokes.unionByName(center)
        ranks = {
            r["id"]: r["rank"]
            for r in pagerank(edges, nodes, iterations=40).collect()
        }
        # analytic equilibrium of the hub/spoke-1 2-cycle:
        #   rh = 0.015 + 0.85(r1 + 8*0.015), r1 = 0.015 + 0.85*rh
        assert abs(ranks[0] - 0.12975 / 0.2775) < 1e-3
        assert abs(ranks[1] - (0.015 + 0.85 * 0.12975 / 0.2775)) < 1e-3
        base = 0.15 / n
        for spoke in range(2, n):
            assert abs(ranks[spoke] - base) < 1e-12  # no in-edges
        assert abs(sum(ranks.values()) - 1.0) < 1e-9  # mass conserved

    def test_fixed_point_tracks_float(self, spark):
        """Fixed-point ranks must agree with float ranks to the
        truncation error (a few units per iteration at scale 1e12)."""
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.operators.graph import pagerank

        n = 50
        nodes = spark.range(n).select(F.col("id"))
        edges = (
            spark.range(n)
            .select(
                F.col("id").alias("src"),
                ((F.col("id") * F.col("id") + 7) % n).alias("dst"),
            )
        )
        fl = {
            r["id"]: r["rank"]
            for r in pagerank(edges, nodes, iterations=4).collect()
        }
        fp = {
            r["id"]: r["rank"]
            for r in pagerank(
                edges, nodes, iterations=4, fixed_point_scale=10**12
            ).collect()
        }
        for i in range(n):
            assert abs(fp[i] / 10**12 - fl[i]) < 1e-6, i

    def test_conserve_mass_float_sums_to_one(self, spark):
        """A graph WITH dangling nodes: default mode leaks their mass
        (Σrank < 1), conserve_mass=True redistributes it so Σrank = 1
        to a few ulps after every iteration count."""
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.operators.graph import pagerank

        n = 12
        nodes = spark.range(n).select(F.col("id"))
        # nodes 0..5 link forward; 6..11 are dangling (no out-edges)
        edges = spark.range(6).select(
            F.col("id").alias("src"), (F.col("id") + 6).alias("dst")
        )
        for iters in (1, 4, 8):
            leaky = sum(
                r["rank"]
                for r in pagerank(edges, nodes, iterations=iters).collect()
            )
            full = sum(
                r["rank"]
                for r in pagerank(
                    edges, nodes, iterations=iters, conserve_mass=True
                ).collect()
            )
            assert leaky < 1.0 - 1e-3  # the simplification really leaks
            assert abs(full - 1.0) < 1e-12, iters

    def test_conserve_mass_fixed_point_bound_and_determinism(
        self, spark, checkpoint_dir
    ):
        """Integer mode: Σrank is deterministic and within the
        documented floor-division bound of the full scale —
        0 ≤ scale − Σ ≤ iterations·(E + 4·N) units."""
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.operators.graph import pagerank

        n, scale, iters = 40, 10**12, 4
        nodes = spark.range(n).select(F.col("id"))
        # half the nodes emit 2 edges each; the rest dangle
        edges = spark.range(n // 2).select(
            F.col("id").alias("src"),
            ((F.col("id") * 3 + 1) % n).alias("dst"),
        ).unionByName(
            spark.range(n // 2).select(
                F.col("id").alias("src"),
                ((F.col("id") * 5 + 2) % n).alias("dst"),
            )
        )
        n_edges = n  # n//2 sources x 2 edges
        totals, runs = [], []
        # twice with localCheckpoint pins, once with reliable checkpoints
        for reliable in (False, False, True):
            ranks = pagerank(
                edges,
                nodes,
                iterations=iters,
                fixed_point_scale=scale,
                conserve_mass=True,
                reliable_checkpoint=reliable,
            ).collect()
            totals.append(sum(r["rank"] for r in ranks))
            runs.append({r["id"]: r["rank"] for r in ranks})
        assert totals[0] == totals[1]  # bit-identical across runs
        assert runs[0] == runs[1] == runs[2]  # ... and checkpoint forms
        loss = scale - totals[0]
        assert 0 <= loss <= iters * (n_edges + 4 * n), loss
        # and mass conservation genuinely tightens the integer mode too
        leaky_total = sum(
            r["rank"]
            for r in pagerank(
                edges, nodes, iterations=iters, fixed_point_scale=scale
            ).collect()
        )
        assert leaky_total < totals[0]

    def test_fixed_point_rejects_irrational_damping(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.operators.graph import pagerank

        nodes = spark.range(3).select(F.col("id"))
        edges = spark.createDataFrame([(0, 1)], "src long, dst long")
        with pytest.raises(ValueError, match="/100"):
            pagerank(
                edges, nodes, damping=0.8567, fixed_point_scale=10**12
            )


class TestIncrementalExactDedup:
    def test_seen_hashes_path_matches_seen_df_path(self, spark):
        """The persisted-index path (seen_hashes) must admit exactly the
        rows the derive-from-corpus path admits, and both of None must
        raise a clear ValueError, not AttributeError."""
        import pytest
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.operators.dedup import (
            _content_hash,
            incremental_exact_dedup,
        )

        seen = spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(3, "alpha"), (4, "gamma"), (5, "gamma")],
            "doc_id long, text string",
        )
        via_df = {
            r["doc_id"]
            for r in incremental_exact_dedup(new, seen, ["text"], "doc_id").collect()
        }
        digests = seen.select(_content_hash(["text"]).alias("digest"))
        via_hashes = {
            r["doc_id"]
            for r in incremental_exact_dedup(
                new, None, ["text"], "doc_id", seen_hashes=digests
            ).collect()
        }
        assert via_df == via_hashes == {4}
        with pytest.raises(ValueError, match="seen_df or seen_hashes"):
            incremental_exact_dedup(new, None, ["text"], "doc_id")


def test_lsh_decontaminate_recall_on_perturbed_vectors(spark):
    """q140's gate must catch PERTURBED eval vectors, not just exact
    copies: a paraphrase-like embedding (tiny perturbation, cosine >
    0.999) collides with its benchmark twin in every LSH table with
    probability ~1, while a merely-similar vector (cos ~0.97) stays
    below the near-identity bar even when buckets collide."""
    import math

    from pyspark.sql import functions as F

    from gov_data_pipeline_spark.operators.similarity import lsh_cosine_pairs

    dim = 16

    def vec(seed: int) -> list[float]:
        # deterministic pseudo-random unit-ish vector
        return [math.sin(seed * 31 + j * 7) for j in range(dim)]

    base = vec(1)
    # near-identity: one coordinate nudged by 1e-3 -> cos > 0.99999
    nearly = list(base)
    nearly[3] += 1e-3
    # similar-but-distinct: 25% of coordinates replaced -> cos ~0.9x
    similar = list(base)
    for j in range(0, dim, 4):
        similar[j] = -similar[j]

    bench = spark.createDataFrame(
        [(100, base)], "vec_id long, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [(1, nearly), (2, similar), (3, vec(9))],
        "vec_id long, embedding array<float>",
    )
    hits = {
        r["a_id"]
        for r in lsh_cosine_pairs(
            corpus, bench, "vec_id", "vec_id", "embedding", "embedding",
            threshold=0.999, bits=6, tables=6,
            exclude_self=False, hash_family="md5",
        ).collect()
    }
    assert 1 in hits  # the perturbed twin is caught
    assert 2 not in hits and 3 not in hits  # merely-similar stays clean


class TestDuplicatePassageSpans:
    def _spans(self, spark, rows):
        from gov_data_pipeline_spark.operators.dedup import (
            duplicate_passage_spans,
        )
        import pyspark.sql.functions as F

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            (r.doc_id, r.start_word, r.end_word, r.n_grams)
            for r in duplicate_passage_spans(
                df, "doc_id", F.col("text"), n=5, min_grams=3
            ).collect()
        }

    def test_shared_passage_merges_to_one_maximal_span(self, spark):
        # 9 shared words at positions 3..11 of doc 1 and 1..9 of doc 2:
        # 5 consecutive duplicated 5-grams on each side -> ONE span each.
        shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9"
        rows = [
            (1, "a1 a2 " + shared + " a3 a4"),
            (2, shared + " b1 b2 b3"),
        ]
        assert self._spans(spark, rows) == {
            (1, 3, 11, 5),
            (2, 1, 9, 5),
        }

    def test_min_grams_floor_and_boundary(self, spark):
        # exactly 7 shared words = 3 grams (kept); 6 = 2 grams (cut)
        seven = "s1 s2 s3 s4 s5 s6 s7"
        six = "t1 t2 t3 t4 t5 t6"
        rows = [
            (1, seven + " a1 a2 " + six),
            (2, seven),
            (3, six),
        ]
        assert self._spans(spark, rows) == {
            (1, 1, 7, 3),
            (2, 1, 7, 3),
        }

    def test_within_doc_repetition_does_not_count(self, spark):
        # the same 8-word passage twice in ONE doc, nowhere else
        p = "r1 r2 r3 r4 r5 r6 r7 r8"
        rows = [(1, p + " x1 " + p), (2, "u1 u2 u3 u4 u5 u6 u7 u8")]
        assert self._spans(spark, rows) == set()

    def test_two_disjoint_shared_spans_stay_separate(self, spark):
        p1 = "s1 s2 s3 s4 s5 s6 s7"
        p2 = "t1 t2 t3 t4 t5 t6 t7"
        rows = [
            (1, p1 + " a1 a2 a3 " + p2),
            (2, p1),
            (3, p2),
        ]
        got = self._spans(spark, rows)
        assert (1, 1, 7, 3) in got and (1, 11, 17, 3) in got
        assert (2, 1, 7, 3) in got and (3, 1, 7, 3) in got
        assert len(got) == 4

    def test_param_validation(self, spark):
        from gov_data_pipeline_spark.operators.dedup import (
            duplicate_passage_spans,
        )
        import pyspark.sql.functions as F
        import pytest as _pytest

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            duplicate_passage_spans(df, "doc_id", F.col("text"), n=0)


class TestClusterSplit:
    def test_no_cluster_straddles_the_split(self, spark, sf_dir):
        import pyspark.sql.functions as F
        from gov_data_pipeline_spark.queries.dedup_sim import q145_cluster_split

        df = q145_cluster_split(spark, sf_dir)
        straddlers = (
            df.groupBy("component")
            .agg(F.count_distinct("split").alias("k"))
            .filter(F.col("k") > 1)
            .count()
        )
        assert straddlers == 0

    def test_naive_per_doc_hash_would_leak(self, spark, sf_dir):
        # the failure mode q145 exists to prevent: hashing doc_id
        # instead of the cluster representative splits at least one
        # near-dup cluster across train/val on the same fixture
        import pyspark.sql.functions as F
        from gov_data_pipeline_spark.functions.sampling import hash_bucket_col
        from gov_data_pipeline_spark.queries.dedup_sim import q145_cluster_split

        df = q145_cluster_split(spark, sf_dir).withColumn(
            "naive_split",
            F.when(hash_bucket_col(F.col("doc_id")) < 204, "train").otherwise(
                "val"
            ),
        )
        leaked = (
            df.groupBy("component")
            .agg(F.count_distinct("naive_split").alias("k"))
            .filter(F.col("k") > 1)
            .count()
        )
        assert leaked > 0


def test_gemm_drops_malformed_vectors(spark):
    """cosine_pairs_gemm: NULL and ragged-length vectors are dropped
    before the kernel (a NULL crashes the numpy stack; ragged builds an
    object array); a zero-norm vector's NaN sims fail the threshold —
    the result equals the same call over the pre-cleaned input."""
    import pyspark.sql.functions as F

    from gov_data_pipeline_spark.operators.similarity import cosine_pairs_gemm

    good = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    dirty = good + [
        (4, None),            # NULL vector
        (5, [1.0, 0.0]),      # ragged length
        (6, [0.0, 0.0, 0.0]), # zero norm -> NaN sims
    ]
    schema = "id long, v array<double>"
    d = spark.createDataFrame(dirty, schema)
    g = spark.createDataFrame(good, schema)
    got = sorted(
        (r.a_id, r.b_id, r.cosine_sim)
        for r in cosine_pairs_gemm(d, d, "id", "id", "v", "v", 0.5).collect()
    )
    want = sorted(
        (r.a_id, r.b_id, r.cosine_sim)
        for r in cosine_pairs_gemm(g, g, "id", "id", "v", "v", 0.5).collect()
    )
    assert got == want and len(got) > 0
    assert not any(6 in (a, b) for a, b, _ in got)
    # a ragged row COLLECTED FIRST must not anchor the expected dim
    # and veto every well-formed vector (dim = modal length)
    ragged_first = [(5, [1.0, 0.0])] + good
    rf = spark.createDataFrame(ragged_first, schema)
    got_rf = sorted(
        (r.a_id, r.b_id, r.cosine_sim)
        for r in cosine_pairs_gemm(rf, rf, "id", "id", "v", "v", 0.5).collect()
    )
    assert got_rf == want


def test_gemm_refuses_genuinely_mixed_dim_queries(spark):
    """cosine_pairs_gemm tolerates a MINORITY of ragged rows (the
    malformed-drop contract) but a modal-frequency tie or a majority-
    mixed input raises instead of silently erasing one dimension from
    both sides (ADVICE r06)."""
    import pytest

    from gov_data_pipeline_spark.operators.similarity import cosine_pairs_gemm

    schema = "id long, v array<double>"
    # exact tie: two len-3, two len-2 — either pick would drop half
    tied = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]),
         (3, [1.0, 0.0]), (4, [0.0, 1.0])],
        schema,
    )
    with pytest.raises(ValueError, match="mixed-dimension"):
        cosine_pairs_gemm(tied, tied, "id", "id", "v", "v", 0.5)
    # modal dim covers under 2/3: 2 of 5 rows would vanish silently
    minority_modal = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [1.0, 1.0, 0.0]),
         (4, [1.0, 0.0]), (5, [0.0, 1.0])],
        schema,
    )
    with pytest.raises(ValueError, match="mixed-dimension"):
        cosine_pairs_gemm(
            minority_modal, minority_modal, "id", "id", "v", "v", 0.5
        )


class TestDocPackNFD:
    def test_nfd_packing_semantics(self, spark):
        import pyspark.sql.functions as F

        from gov_data_pipeline_spark.functions.chunking import (
            pack_documents_nfd,
        )

        rows = [
            (1, 90), (2, 60), (3, 50), (4, 40), (5, 30),
            # oversize doc: alone in its own bin
            (6, 250),
        ]
        df = spark.createDataFrame(
            [(i, s, 0) for i, s in rows], "doc_id long, n_chars long, shard int"
        )
        got = {
            r.doc_id: r.bin
            for r in pack_documents_nfd(
                df, "doc_id", "n_chars", "shard", capacity=100
            ).collect()
        }
        # sorted desc: 250, 90, 60, 50, 40, 30
        # 250 -> bin1 (oversize, alone); 90 -> bin2 (250+90>100);
        # 60 -> bin3; 50 -> bin4 (60+50>100); 40 -> bin4 (90);
        # 30 -> bin5 (90+30>100)
        assert got == {6: 1, 1: 2, 2: 3, 3: 4, 4: 4, 5: 5}

    def test_nfd_param_validation_and_determinism(self, spark, sf_dir):
        import pytest as _pytest

        from gov_data_pipeline_spark.functions.chunking import (
            pack_documents_nfd,
        )

        df = spark.createDataFrame(
            [(1, 10, 0)], "doc_id long, n_chars long, shard int"
        )
        with _pytest.raises(ValueError):
            pack_documents_nfd(df, "doc_id", "n_chars", "shard", capacity=0)
        from gov_data_pipeline_spark.queries.dedup_sim import q149_doc_pack_nfd

        a = q149_doc_pack_nfd(spark, sf_dir).collect()
        b = q149_doc_pack_nfd(spark, sf_dir).collect()
        assert a == b


class TestBloom:
    """operators/bloom.py — relational Bloom filter contracts."""

    def _frames(self, spark):
        members = spark.createDataFrame(
            [(f"v{i}",) for i in range(0, 400, 2)], "s string"
        )
        probe = spark.createDataFrame(
            [(f"v{i}",) for i in range(400)] + [(None,)], "s string"
        )
        return members, probe

    def test_no_false_negatives_and_null_dropped(self, spark):
        from gov_data_pipeline_spark.operators.bloom import bloom_build, bloom_probe

        members, probe = self._frames(spark)
        bits = bloom_build(members, F.col("s"))
        got = {r.s for r in bloom_probe(probe, F.col("s"), bits).collect()}
        want = {f"v{i}" for i in range(0, 400, 2)}
        assert want <= got  # the Bloom guarantee
        assert None not in got  # NULL membership is undefined -> dropped

    def test_saturated_filter_still_sound(self, spark):
        # a deliberately undersized filter passes false positives but
        # must STILL pass every inserted member (soundness under load).
        from gov_data_pipeline_spark.operators.bloom import bloom_build, bloom_probe

        members, probe = self._frames(spark)
        bits = bloom_build(members, F.col("s"), num_bits=128, num_hashes=2)
        got = {
            r.s
            for r in bloom_probe(
                probe, F.col("s"), bits, num_bits=128, num_hashes=2
            ).collect()
        }
        assert {f"v{i}" for i in range(0, 400, 2)} <= got

    def test_bitset_is_bounded_and_probe_broadcasts(self, spark):
        from gov_data_pipeline_spark.operators.bloom import bloom_build, bloom_probe

        members, probe = self._frames(spark)
        bits = bloom_build(members, F.col("s"), num_bits=1 << 12)
        # payload bound: at most num_bits/64 words, however many inserts
        assert bits.count() <= (1 << 12) // 64
        surv = bloom_probe(probe, F.col("s"), bits, num_bits=1 << 12)
        plan = surv._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        surv.collect()

    def test_probe_preserves_input_columns(self, spark):
        from gov_data_pipeline_spark.operators.bloom import bloom_build, bloom_probe

        members = spark.createDataFrame([("a",)], "s string")
        probe = spark.createDataFrame([("a", 1), ("b", 2)], "s string, extra int")
        bits = bloom_build(members, F.col("s"))
        out = bloom_probe(probe, F.col("s"), bits)
        assert out.columns == ["s", "extra"]
        rows = out.collect()
        assert [(r.s, r.extra) for r in rows] == [("a", 1)]


class TestContainmentPairs:
    """operators/dedup.containment_pairs_text — the asymmetric signal."""

    def test_excerpt_has_full_containment_but_low_jaccard(self, spark):
        from gov_data_pipeline_spark.operators.dedup import (
            containment_pairs_text,
            jaccard_pairs_text,
        )

        base = " ".join(f"w{i}" for i in range(60))
        excerpt = " ".join(f"w{i}" for i in range(10, 22))  # contiguous slice
        df = spark.createDataFrame(
            [(1, base), (2, excerpt), (3, " ".join(f"x{i}" for i in range(30)))],
            "doc_id long, text string",
        )
        cont = {
            (r.a_id, r.b_id): (r.containment_ab, r.containment_ba)
            for r in containment_pairs_text(
                df, "doc_id", F.col("text"), threshold=0.9
            ).collect()
        }
        # the excerpt is fully contained in the base document...
        assert cont[(1, 2)][1] == 1.0
        # ...while symmetric Jaccard at the same kind of threshold sees
        # nothing (10 shared shingles / 58 union ≈ 0.17)
        jac = jaccard_pairs_text(df, "doc_id", F.col("text"), threshold=0.5)
        assert jac.count() == 0

    def test_unrelated_docs_produce_no_pairs(self, spark):
        from gov_data_pipeline_spark.operators.dedup import containment_pairs_text

        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "q r s t u v")], "doc_id long, text string"
        )
        assert (
            containment_pairs_text(df, "doc_id", F.col("text"), threshold=0.1).count()
            == 0
        )


class TestContainmentDedup:
    """operators/graph.containment_dedup — the keep-the-superset
    decision that turns containment PAIRS into removals (q163)."""

    @staticmethod
    def _decide(spark, rows, threshold=0.9):
        from gov_data_pipeline_spark.operators.dedup import containment_pairs_text
        from gov_data_pipeline_spark.operators.graph import containment_dedup

        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = containment_pairs_text(
            df, "doc_id", F.col("text"), threshold=threshold
        )
        return {
            r.doc_id: (r.component, r.kept)
            for r in containment_dedup(
                pairs, df.select("doc_id"), "doc_id", threshold=threshold
            ).collect()
        }

    def test_planted_excerpt_dropped_source_kept(self, spark):
        """The q163 fixture shape: the excerpt (quote leak) must be
        REMOVED and its source kept, in one component; the unrelated
        doc stays a kept singleton."""
        base = " ".join(f"w{i}" for i in range(60))
        excerpt = " ".join(f"w{i}" for i in range(10, 22))
        got = self._decide(
            spark,
            [(1, base), (2, excerpt), (3, " ".join(f"x{i}" for i in range(30)))],
        )
        assert got[1] == (1, True)  # source kept
        assert got[2] == (1, False)  # excerpt removed
        assert got[3] == (3, True)  # unrelated doc untouched

    def test_shared_boilerplate_drops_snippet_not_originals(self, spark):
        """Two originals embedding one boilerplate snippet: one cluster,
        but ONLY the contained snippet may be dropped — per-cluster
        keep-the-largest would wrongly drop the second original."""
        snippet = " ".join(f"s{i}" for i in range(12))
        d1 = snippet + " " + " ".join(f"a{i}" for i in range(40))
        d2 = snippet + " " + " ".join(f"b{i}" for i in range(45))
        got = self._decide(spark, [(1, d1), (2, d2), (3, snippet)])
        assert got[3][1] is False  # snippet removed
        assert got[1][1] is True and got[2][1] is True  # originals kept
        assert got[1][0] == got[2][0] == got[3][0] == 1  # one component

    def test_chain_keeps_only_the_maximal_superset(self, spark):
        """A ⊂ B ⊂ C: subset-ness is independent of whether the
        container survives — A and B are dropped, C kept."""
        c = " ".join(f"w{i}" for i in range(60))
        b = " ".join(f"w{i}" for i in range(5, 35))
        a = " ".join(f"w{i}" for i in range(10, 22))
        got = self._decide(spark, [(1, a), (2, b), (3, c)])
        assert got[1][1] is False and got[2][1] is False
        assert got[3][1] is True
        assert {v[0] for v in got.values()} == {1}

    def test_mutual_containment_keeps_smaller_id(self, spark):
        """Near-identical shingle sets (both ratios at 1.0) resolve by
        the canonical-min convention."""
        text = " ".join(f"w{i}" for i in range(20))
        got = self._decide(spark, [(7, text), (9, text)])
        assert got[7] == (7, True)
        assert got[9] == (7, False)


def test_lsh_semantic_clusters_refine_exact_baseline(spark, sf_dir):
    """q80 (hyperplane-LSH scale path) vs q74 (brute-force ground
    truth), the documented equivalence pinned as structure:

    - REFINEMENT: q80's verify stage is the same rounded-cosine
      threshold, so its pair set is a subset of q74's and every LSH
      component must sit inside exactly one exact component (a
      component spanning two exact components would mean a pair the
      exact tier rejected).
    - CANONICAL MONOTONICITY: splitting components can only mint new
      canonicals, and the exact tier's canonical (min id of its
      component) stays the min of whichever sub-component it lands in
      — so q74's canonical set is a subset of q80's.
    - RECALL FLOOR: the planted mutants sit at >= 0.99 cosine; with 6
      tables x 6 bits the deterministic md5 bucketing recovers (at
      this fixture) all of them — pin >= 0.95 of the exact tier's
      non-singleton memberships so a silent bucketing regression
      cannot hide behind the rows-only driver check.
    """
    from collections import Counter, defaultdict

    from gov_data_pipeline_spark.queries.dedup_sim import (
        q74_semantic_clusters,
        q80_semantic_clusters_lsh,
    )

    exact = {
        r.vec_id: (r.component, r.is_canonical)
        for r in q74_semantic_clusters(spark, sf_dir).collect()
    }
    lsh = {
        r.vec_id: (r.component, r.is_canonical)
        for r in q80_semantic_clusters_lsh(spark, sf_dir).collect()
    }
    assert set(exact) == set(lsh)

    members = defaultdict(set)
    for v, (c, _) in lsh.items():
        members[c].add(exact[v][0])
    non_refining = {c: s for c, s in members.items() if len(s) > 1}
    assert not non_refining, non_refining

    exact_canon = {v for v, (_, k) in exact.items() if k}
    lsh_canon = {v for v, (_, k) in lsh.items() if k}
    assert exact_canon <= lsh_canon

    ca = Counter(c for c, _ in exact.values())
    cb = Counter(c for c, _ in lsh.values())
    ns_exact = {v for v, (c, _) in exact.items() if ca[c] > 1}
    ns_lsh = {v for v, (c, _) in lsh.items() if cb[c] > 1}
    assert ns_exact, "fixture lost its planted mutants"
    assert len(ns_lsh & ns_exact) / len(ns_exact) >= 0.95


class TestInt8Tier:
    """int8-quantized search scoring (_int8_vec_side / ivf_topk(int8=
    True) / ann_topk(int8=True)) — r13 closure of the q118 storage ↔
    search gap."""

    def test_quantizer_matches_q118_formula(self, spark):
        import math

        from gov_data_pipeline_spark.operators.similarity import (
            _int8_vec_side,
        )

        df = spark.createDataFrame(
            [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
            "vid long, v array<double>",
        )
        rows = {
            r["i"]: r
            for r in _int8_vec_side(df, "vid", "v", "i", "q", "n").collect()
        }
        # scale = 1.0: floor(0.5*127+0.5)=64, floor(-127+0.5)=-127,
        # floor(0.25*127+0.5)=floor(32.25)=32
        assert rows[1]["q"] == [64, -127, 32]
        assert rows[1]["n"] == math.sqrt(64 * 64 + 127 * 127 + 32 * 32)
        # zero-scale vector quantizes to zeros with zero norm
        assert rows[2]["q"] == [0, 0, 0] and rows[2]["n"] == 0.0

    def test_int8_topk_tracks_float_topk(self, spark, sf_dir):
        """On the fixture embeddings, the int8 brute ranking agrees
        with the float ranking for >= 90% of top-5 slots (q202 measures
        the exact number; this is the floor), and the zero-norm guard
        drops nothing real."""
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.catalog import read_table
        from gov_data_pipeline_spark.operators.similarity import (
            ann_topk,
            cosine_topk,
        )

        emb = read_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        flt = cosine_topk(
            queries, emb, "vec_id", "vec_id", "embedding", "embedding", k=5
        ).select("vec_id", "neighbor_id")
        # full-probe LSH so the candidate sets are near-exhaustive and
        # the comparison isolates the quantized SCORING
        i8 = ann_topk(
            queries, emb, "vec_id", "vec_id", "embedding", "embedding",
            k=5, bits=4, tables=8, int8=True,
        ).select("vec_id", "neighbor_id")
        n_truth = flt.count()
        n_hit = flt.intersect(i8).count()
        assert n_truth == 50
        assert n_hit / n_truth >= 0.9, f"{n_hit}/{n_truth}"

    def test_ivf_int8_stays_jvm_side(self, spark, sf_dir):
        """The quantized tier must not fall out of codegen into Python:
        no BatchEvalPython / PythonUDF in the executed plan."""
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.catalog import read_table
        from gov_data_pipeline_spark.operators.similarity import ivf_topk

        emb = read_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        df = ivf_topk(
            queries, emb, "vec_id", "vec_id", "embedding", "embedding",
            k=3, int8=True,
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "PythonUDF" not in plan
