"""Structured Streaming integration tests: run the same plans the batch
oracles certify through a real file stream with watermarks, and check
late-data / dedup behavior."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from gov_data_pipeline_spark.catalog import read_table
from gov_data_pipeline_spark.streaming import (
    cumulative_alerts,
    dedup_within_watermark,
    read_events_stream,
    tumbling_counts,
)


@pytest.fixture()
def stream_dir(spark, sf_dir):
    """Feed the fixture events into a stream-source directory as a few
    parquet files (micros timestamps, written through the catalog's
    normalizing reader)."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    events = read_table(spark, sf_dir, "events")
    # 3 files -> 3 micro-batches with maxFilesPerTrigger=1
    events.repartition(3).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(sdf, name: str, mode: str):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_stream_matches_batch(spark, sf_dir, stream_dir):
    stream = read_events_stream(spark, stream_dir)
    name = f"t_{uuid.uuid4().hex[:8]}"
    _run_to_memory(tumbling_counts(stream), name, "complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = tumbling_counts(read_table(spark, sf_dir, "events"))
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want


def test_stream_dedup_drops_duplicates(spark, stream_dir):
    # duplicate every file's rows by reading the dir twice via union
    stream = read_events_stream(spark, stream_dir)
    deduped = dedup_within_watermark(stream)
    name = f"d_{uuid.uuid4().hex[:8]}"
    _run_to_memory(deduped, name, "append")
    n = spark.sql(f"SELECT count(DISTINCT event_id) c, count(*) n FROM {name}").collect()[0]
    assert n["c"] == n["n"]  # no duplicate event_ids survive


def test_stateful_alerts_match_batch(spark, sf_dir):
    """The applyInPandasWithState form must emit exactly the rows the
    batch window-cumsum twin (the oracle-checked q66 plan) produces.
    Feed files split by time range, in event-time order, so the state
    updates see events in the same order the batch window sorts them."""
    import os

    d = tempfile.mkdtemp(prefix="alerts_stream_")
    try:
        events = read_table(spark, sf_dir, "events")
        # 3 time-range files, mtime-ordered => micro-batches in event-time order
        lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
        span = (hi - lo) / 3
        cuts = [lo + span, lo + 2 * span]
        ranges = [
            F.col("ts") < cuts[0],
            (F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1]),
            F.col("ts") >= cuts[1],
        ]
        for i, cond in enumerate(ranges):
            path = os.path.join(d, f"part{i}")
            events.filter(cond).coalesce(1).write.parquet(path)
            for root, _, files in os.walk(path):
                for f in files:
                    t = 1_000_000_000 + i * 5_000
                    os.utime(os.path.join(root, f), (t, t))
        stream = read_events_stream(spark, d + "/*")
        name = f"s_{uuid.uuid4().hex[:8]}"
        _run_to_memory(cumulative_alerts(stream, threshold=1000.0), name, "append")
        got = {
            tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        want = {tuple(r) for r in cumulative_alerts(events, threshold=1000.0).collect()}
        assert got == want
        assert len(want) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_watermark_drops_late_rows(spark):
    """Batch 1 advances event time to 13:00 (watermark 12:00); a file
    arriving two batches later with an 08:00 event is behind the
    watermark and must be dropped from the aggregation.

    (Empirically the input-side watermark filter applies from the batch
    *after* the watermark advances — the 09:00 event in batch 2 still
    lands; the 08:00 event in batch 3 is dropped and counted in
    numRowsDroppedByWatermark.)
    """
    import os

    d = tempfile.mkdtemp(prefix="late_")
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )

    def mk(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    try:
        mk(
            [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
             (2, "2024-01-01 13:00:00", 1, "click", 1.0, "{}")]
        ).coalesce(1).write.parquet(os.path.join(d, "a"))
        mk([(3, "2024-01-01 09:00:00", 1, "click", 1.0, "{}")]).coalesce(
            1
        ).write.parquet(os.path.join(d, "b"))
        mk([(4, "2024-01-01 08:00:00", 1, "click", 1.0, "{}")]).coalesce(
            1
        ).write.parquet(os.path.join(d, "c"))
        # file-source ingestion order follows modification time
        for root, _, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                t = {"a": 1_000_000_000, "b": 1_000_005_000, "c": 1_000_009_000}[
                    p.split(d + "/")[1][0]
                ]
                os.utime(p, (t, t))
        from gov_data_pipeline_spark.streaming import EVENTS_SCHEMA

        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(d + "/*")
        )
        agg = tumbling_counts(stream, window="1 hour", watermark="1 hour")
        name = f"l_{uuid.uuid4().hex[:8]}"
        q = _run_to_memory(agg, name, "append")
        dropped = sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
        assert dropped >= 1
        starts = {
            r["window_start"].isoformat()
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert "2024-01-01T08:00:00" not in starts
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_cents_rounding_matches_batch_decimal_cast(spark):
    """The streaming state update and the batch twin's DECIMAL(18,2)
    cast must round identically at half-boundaries (ADVICE r1): Python
    round() is half-to-even (0.125 -> 12) but Spark's decimal cast is
    HALF_UP (0.125 -> 13); _to_cents must follow the latter."""
    from gov_data_pipeline_spark.streaming.stateful import _to_cents

    vals = [0.125, 0.135, 2.675, 1.005, 999.995, 0.994999, 10.0, 0.0]
    rows = spark.createDataFrame(
        [(v,) for v in vals], "value double"
    ).selectExpr("value", "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS LONG) AS cents")
    for r in rows.collect():
        assert _to_cents(r["value"]) == r["cents"], r["value"]
    assert _to_cents(0.125) == 13  # the half-to-even trap the fix targets


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """The watermarked stream-stream interval join must emit exactly the
    batch twin's attribution pairs (inner join: results emit as matches
    arrive; the watermark only bounds state)."""
    import os

    from gov_data_pipeline_spark.streaming import click_purchase_join

    d = tempfile.mkdtemp(prefix="ssjoin_")
    try:
        events = read_table(spark, sf_dir, "events")
        lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
        span = (hi - lo) / 3
        cuts = [lo + span, lo + 2 * span]
        ranges = [
            F.col("ts") < cuts[0],
            (F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1]),
            F.col("ts") >= cuts[1],
        ]
        for i, cond in enumerate(ranges):
            path = os.path.join(d, f"part{i}")
            events.filter(cond).coalesce(1).write.parquet(path)
            for root, _, files in os.walk(path):
                for f in files:
                    t = 1_000_000_000 + i * 5_000
                    os.utime(os.path.join(root, f), (t, t))
        stream = read_events_stream(spark, d + "/*")
        sj = click_purchase_join(
            stream.filter(F.col("event_type") == "click"),
            stream.filter(F.col("event_type") == "purchase"),
        )
        name = f"j_{uuid.uuid4().hex[:8]}"
        _run_to_memory(sj, name, "append")
        got = {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
        want = {
            tuple(r)
            for r in click_purchase_join(
                events.filter(F.col("event_type") == "click"),
                events.filter(F.col("event_type") == "purchase"),
            ).collect()
        }
        assert got == want
        assert len(want) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_incremental_dedup_sink_grows_corpus_without_duplicates(spark, tmp_path):
    """Three micro-batches with overlapping content: the persisted
    corpus must end up with one row per distinct content, surviving
    duplicates both within a batch and across batches."""
    from gov_data_pipeline_spark.streaming import incremental_dedup_sink

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    # batch files written one by one; maxFilesPerTrigger=1 -> 3 batches
    b1 = [(1, "alpha"), (2, "beta"), (3, "alpha")]        # intra-batch dup
    b2 = [(4, "beta"), (5, "gamma")]                       # cross-batch dup
    b3 = [(6, "gamma"), (7, "delta"), (8, "delta")]        # both
    import os
    import time

    seen_files: set[str] = set()
    t0 = time.time()
    for i, rows in enumerate((b1, b2, b3)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
        # Pin processing order: FileStreamSource sorts by modification
        # time at ms resolution, and back-to-back writes can tie — give
        # each batch's files an explicit, strictly increasing mtime.
        for root, _, files in os.walk(src):
            for f in files:
                p = os.path.join(root, f)
                if p not in seen_files:
                    os.utime(p, (t0 + 10 * i, t0 + 10 * i))
                    seen_files.add(p)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        incremental_dedup_sink(stream, corpus, ["text"], "doc_id", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["text"]: r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert set(got) == {"alpha", "beta", "gamma", "delta"}
    # within a batch the smallest id wins; across batches first arrival wins
    assert got["alpha"] == 1 and got["delta"] == 7
    # the corpus is the state: re-running the same stream from a fresh
    # checkpoint appends nothing (dedup is the idempotence mechanism)
    q2 = (
        incremental_dedup_sink(stream, corpus, ["text"], "doc_id", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(corpus).count() == 4


def test_corpus_vacuum_redup_matches_dedup_sink_rejections(
    spark, tmp_path, sf_dir
):
    """q201's n_redup IS the incremental exact-dedup sink's rejection
    count: snapshot A streams into the sink, then snapshot B's added
    docs (q201's synthesis: every 103rd doc re-added under a fresh id,
    odd ids with new content) stream as a second batch — the rows the
    sink refuses to append must be exactly the report's re-duplicated
    rows, and the corpus must grow by n_added - n_redup."""
    import os
    import time

    from pyspark.sql import functions as F

    from gov_data_pipeline_spark.catalog import read_table
    from gov_data_pipeline_spark.queries.corpus_ops import q201_corpus_vacuum
    from gov_data_pipeline_spark.streaming import incremental_dedup_sink

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_a = docs.count()
    off = docs.agg(F.max("doc_id") + 1).collect()[0][0]
    added = docs.filter(F.col("doc_id") % 103 == 0).select(
        (F.col("doc_id") + F.lit(off)).alias("doc_id"),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(F.col("text"), F.lit(" [rescrape]")),
        ).otherwise(F.col("text")).alias("text"),
    )
    n_added = added.count()
    assert n_added > 0, "fixture too small for the 103-modulus synthesis"

    src = str(tmp_path / "src")
    docs.coalesce(1).write.mode("append").parquet(src)
    t0 = time.time()
    first_files = set()
    for root, _, files in os.walk(src):
        for f in files:
            p = os.path.join(root, f)
            os.utime(p, (t0, t0))
            first_files.add(p)
    added.coalesce(1).write.mode("append").parquet(src)
    for root, _, files in os.walk(src):
        for f in files:
            p = os.path.join(root, f)
            if p not in first_files:
                os.utime(p, (t0 + 10, t0 + 10))

    corpus = str(tmp_path / "corpus")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        incremental_dedup_sink(
            stream, corpus, ["text"], "doc_id", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    report = q201_corpus_vacuum(spark, sf_dir)
    tot = report.agg(
        F.sum("n_added").alias("a"), F.sum("n_redup").alias("r")
    ).collect()[0]
    assert tot["a"] == n_added
    got = spark.read.parquet(corpus).count()
    assert got == n_a + tot["a"] - tot["r"], (
        f"sink kept {got - n_a} of {n_added} added docs; vacuum report "
        f"says {tot['a'] - tot['r']} are genuinely new"
    )
    # the survivors are exactly the mutated (odd-original-id) re-adds
    kept_added = (
        spark.read.parquet(corpus)
        .filter(F.col("doc_id") >= off)
        .select("doc_id")
        .collect()
    )
    assert all((r["doc_id"] - off) % 2 == 1 for r in kept_added)


def test_exact_dedup_sink_digest_sidecar_same_result_and_heals(spark, tmp_path):
    """digest_sidecar=True must keep the exact-dedup contract (one row
    per distinct content, smallest-id-first winners), persist one
    (id, digest) row per corpus row under corpus/_content_digests
    without leaking into plain corpus reads, and self-heal rows that
    reached the corpus without digests."""
    import os
    import time

    from gov_data_pipeline_spark.streaming import incremental_dedup_sink

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    b1 = [(1, "alpha"), (2, "beta"), (3, "alpha")]
    b2 = [(4, "beta"), (5, "gamma")]

    seen_files: set[str] = set()
    t0 = time.time()
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
        for root, _, files in os.walk(src):
            for f in files:
                p = os.path.join(root, f)
                if p not in seen_files:
                    os.utime(p, (t0 + 10 * i, t0 + 10 * i))
                    seen_files.add(p)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        incremental_dedup_sink(
            stream, corpus, ["text"], "doc_id", str(tmp_path / "ckpt"),
            digest_sidecar=True,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["text"]: r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {"alpha": 1, "beta": 2, "gamma": 5}
    side = spark.read.parquet(corpus + "/_content_digests")
    assert {r["doc_id"] for r in side.collect()} == {1, 2, 5}

    # crash window: doc 6 lands in the corpus with no digest; its exact
    # dup (7) must still drop next batch and 6's digest backfills
    spark.createDataFrame(
        [(6, "epsilon")], "doc_id long, text string"
    ).write.mode("append").parquet(corpus)
    spark.createDataFrame(
        [(7, "epsilon"), (8, "zeta")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = (
        incremental_dedup_sink(
            stream, corpus, ["text"], "doc_id", str(tmp_path / "ckpt2"),
            digest_sidecar=True,
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    texts = {r["text"] for r in spark.read.parquet(corpus).collect()}
    assert texts == {"alpha", "beta", "gamma", "epsilon", "zeta"}
    healed = spark.read.parquet(corpus + "/_content_digests")
    assert {r["doc_id"] for r in healed.collect()} == {1, 2, 5, 6, 8}


def test_incremental_neardup_sink_drops_near_duplicates(spark, tmp_path):
    """Near-dup streaming ingestion: exact dups, near-dups (one word
    changed out of many — Jaccard above threshold), and intra-batch
    near-dups all drop; genuinely novel docs survive; re-running the
    stream against the existing corpus appends nothing (idempotence)."""
    from gov_data_pipeline_spark.streaming import incremental_neardup_sink

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = base.replace("today", "tonight")      # 1 word of 14: high Jaccard
    far = "completely different text about spark shuffles and partitions at scale"

    b1 = [(1, base), (2, far)]
    b2 = [(3, near),                              # near-dup of corpus doc 1
          (4, "a genuinely novel document mentioning winnowing and minhash"),
          (5, "a genuinely novel document mentioning winnowing and minhashes")]
          # 5 is an intra-batch near-dup of 4 -> lower id 4 wins
    import os
    import time

    seen_files: set[str] = set()
    t0 = time.time()
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
        for root, _, files in os.walk(src):
            for f in files:
                p = os.path.join(root, f)
                if p not in seen_files:
                    os.utime(p, (t0 + 10 * i, t0 + 10 * i))
                    seen_files.add(p)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        incremental_neardup_sink(
            stream, corpus, "text", "doc_id", ckpt, threshold=0.5
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2, 4}

    # replay from a fresh checkpoint: every row is now an exact dup of
    # its own first append (or a near-dup of the canonical row) -> the
    # corpus must not grow
    q2 = (
        incremental_neardup_sink(
            stream, corpus, "text", "doc_id", str(tmp_path / "ckpt2"),
            threshold=0.5,
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1, 2, 4}


def test_neardup_sink_profile_sidecar_same_result_and_heals(spark, tmp_path):
    """profile_sidecar=True must (a) produce the identical surviving
    corpus as the re-profile-from-text default, (b) persist one profile
    row per corpus row under corpus/_minhash_profiles WITHOUT the
    sidecar leaking into plain reads of the corpus dir, and (c)
    self-heal: rows appended to the corpus without profiles (the
    crash-between-appends window) are re-profiled from text on the
    next batch and still block their near-dups."""
    import os
    import time

    from gov_data_pipeline_spark.streaming import incremental_neardup_sink

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = base.replace("today", "tonight")
    far = "completely different text about spark shuffles and partitions at scale"
    b1 = [(1, base), (2, far)]
    b2 = [(3, near),
          (4, "a genuinely novel document mentioning winnowing and minhash"),
          (5, "a genuinely novel document mentioning winnowing and minhashes")]

    seen_files: set[str] = set()
    t0 = time.time()
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
        for root, _, files in os.walk(src):
            for f in files:
                p = os.path.join(root, f)
                if p not in seen_files:
                    os.utime(p, (t0 + 10 * i, t0 + 10 * i))
                    seen_files.add(p)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        incremental_neardup_sink(
            stream, corpus, "text", "doc_id", str(tmp_path / "ckpt"),
            threshold=0.5, profile_sidecar=True,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # (a) same survivors as the default-mode test over the same batches
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1, 2, 4}
    # (b) sidecar holds exactly the surviving ids; corpus read above
    # proved the _ dir is invisible to plain parquet reads
    prof = spark.read.parquet(corpus + "/_minhash_profiles")
    assert {r["doc_id"] for r in prof.collect()} == {1, 2, 4}
    assert {"sig", "hset", "n"} <= set(prof.columns)

    # (c) simulate the crash window: doc 6 reaches the corpus with NO
    # profile; its near-dup (7) must still drop on the next batch, and
    # 6's profile must be backfilled
    lone = "an orphaned corpus document that lost its profile in a crash window"
    spark.createDataFrame([(6, lone)], "doc_id long, text string").write.mode(
        "append"
    ).parquet(corpus)
    b3 = [(7, lone.replace("crash", "failure")), (8, "yet another wholly original text")]
    spark.createDataFrame(b3, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = (
        incremental_neardup_sink(
            stream, corpus, "text", "doc_id", str(tmp_path / "ckpt2"),
            threshold=0.5, profile_sidecar=True,
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {
        1, 2, 4, 6, 8,
    }
    healed = spark.read.parquet(corpus + "/_minhash_profiles")
    assert {r["doc_id"] for r in healed.collect()} == {1, 2, 4, 6, 8}


def test_ingest_sinks_survive_precreated_empty_corpus_dir(spark, tmp_path):
    """A corpus directory that exists but holds no committed parquet
    (ops pre-created it, or a crashed first batch left only
    _temporary) must read as 'first batch', not wedge the stream in a
    deterministic retry loop."""
    import os

    from gov_data_pipeline_spark.streaming import (
        incremental_dedup_sink,
        incremental_neardup_sink,
    )

    from pyspark.sql import functions as _F

    from gov_data_pipeline_spark.operators.dedup import word_shingles
    from gov_data_pipeline_spark.streaming import decontaminating_ingest_sink

    bench = spark.createDataFrame([("never matches anything",)], "text string").select(
        _F.explode(word_shingles(_F.col("text"), 13)).alias("s")
    )

    for name, mk, want in (
        ("exact", lambda s, c, k: incremental_dedup_sink(s, c, ["text"], "doc_id", k), {1}),
        ("near", lambda s, c, k: incremental_neardup_sink(s, c, "text", "doc_id", k, threshold=0.5), {1}),
        ("decon", lambda s, c, k: decontaminating_ingest_sink(s, c, "text", "doc_id", k, bench), {1, 2}),
    ):
        src = str(tmp_path / f"src_{name}")
        corpus = str(tmp_path / f"corpus_{name}")
        ckpt = str(tmp_path / f"ckpt_{name}")
        os.makedirs(corpus)  # pre-existing empty directory
        spark.createDataFrame(
            [(1, "some document text here"), (2, "some document text here")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("doc_id long, text string").parquet(src)
        )
        q = mk(stream, corpus, ckpt).trigger(availableNow=True).start()
        q.awaitTermination(120)
        assert {
            r["doc_id"] for r in spark.read.parquet(corpus).collect()
        } == want, name


def test_psi_drift_sink_flags_shifted_batch(spark, sf_dir, tmp_path):
    """Streaming twin of q114: a micro-batch drawn from the reference
    distribution must score ~0 PSI; a shifted batch must score high.
    Output lands under batch_id=N partitions (overwrite-idempotent)."""
    from gov_data_pipeline_spark.streaming.monitor import (
        psi_drift_sink,
        reference_profile,
    )

    events = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    profile = reference_profile(events)

    stream_src = str(tmp_path / "src")
    # file 1: the reference data itself; file 2: hard distribution shift
    events.coalesce(1).write.parquet(f"{stream_src}/f1")
    events.withColumn("value", F.col("value") * 5 + 50).coalesce(1).write.parquet(
        f"{stream_src}/f2"
    )
    # flatten into one source dir so maxFilesPerTrigger=1 -> 2 batches
    import glob as _glob
    import shutil as _shutil

    src = str(tmp_path / "stream")
    (tmp_path / "stream").mkdir()
    for i, f in enumerate(
        sorted(_glob.glob(f"{stream_src}/f*/part-*.parquet"))
    ):
        _shutil.copy(f, f"{src}/file_{i}.parquet")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        psi_drift_sink(stream, profile, out, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    hist = spark.read.parquet(out)
    assert set(hist.columns) == {"event_type", "n_events", "psi", "batch_id"}
    per_batch = {
        r["batch_id"]: r["mean_psi"]
        for r in hist.groupBy("batch_id")
        .agg(F.avg("psi").alias("mean_psi"))
        .collect()
    }
    assert len(per_batch) == 2
    lo, hi = sorted(per_batch.values())
    # reference batch reproduces the reference proportions exactly
    assert lo < 0.01, per_batch
    # the x5+50 shift empties most reference buckets
    assert hi > 0.5, per_batch
    # every type in both batches was scored
    n_types = profile.count()
    assert hist.count() == 2 * n_types


def test_incremental_rollup_matches_batch_and_is_replay_idempotent(
    spark, sf_dir, stream_dir, tmp_path
):
    """The combined batch partials must equal the one-shot batch hourly
    aggregate exactly (counts) / to rounding (double sums), and
    re-running the same stream against the same output (fresh
    checkpoint -> every batch replays) must leave the rollup unchanged
    — the batch_id partition overwrite is the exactly-once mechanism."""
    from gov_data_pipeline_spark.streaming.rollup import (
        incremental_hourly_rollup_sink,
        read_hourly_rollup,
    )

    out = str(tmp_path / "rollup")

    def run(ckpt: str) -> None:
        stream = read_events_stream(spark, stream_dir)
        q = (
            incremental_hourly_rollup_sink(stream, out, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt1"))
    rolled = read_hourly_rollup(spark, out).toPandas()

    events = read_table(spark, sf_dir, "events")
    direct = (
        events.groupBy("event_type", F.date_trunc("hour", "ts").alias("bar"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_v"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
        .withColumn("mean_v", F.col("sum_v") / F.col("n"))
        .orderBy("event_type", "bar")
        .toPandas()
    )
    assert len(rolled) == len(direct)
    assert (rolled["n"].values == direct["n"].values).all()
    assert (rolled["min_v"].values == direct["min_v"].values).all()
    assert (rolled["max_v"].values == direct["max_v"].values).all()
    # double sums merge in a different order than the one-shot plan;
    # equality holds to far beyond 2 dp
    assert (rolled["sum_v"].round(2).values == direct["sum_v"].round(2).values).all()

    # full replay with a fresh checkpoint: same batches, same batch_ids,
    # same partitions overwritten -> identical rollup
    run(str(tmp_path / "ckpt2"))
    replayed = read_hourly_rollup(spark, out).toPandas()
    assert (replayed["n"].values == rolled["n"].values).all()
    assert (replayed["sum_v"].round(2).values == rolled["sum_v"].round(2).values).all()


def test_stateful_throttle_matches_batch(spark, sf_dir):
    """throttle_dedup's applyInPandasWithState form must emit exactly
    the rows the batch lag-window twin (the oracle-checked q150 plan)
    produces — including suppressed events advancing the anchor across
    micro-batch boundaries. Same sorted-replay harness as the alerts
    test: 3 time-range files, mtime-ordered."""
    import os

    from gov_data_pipeline_spark.streaming import (
        read_events_stream,
        throttle_dedup,
    )

    d = tempfile.mkdtemp(prefix="throttle_stream_")
    try:
        events = read_table(spark, sf_dir, "events")
        lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
        span = (hi - lo) / 3
        cuts = [lo + span, lo + 2 * span]
        ranges = [
            F.col("ts") < cuts[0],
            (F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1]),
            F.col("ts") >= cuts[1],
        ]
        for i, cond in enumerate(ranges):
            path = os.path.join(d, f"part{i}")
            events.filter(cond).coalesce(1).write.parquet(path)
            for root, _, files in os.walk(path):
                for f in files:
                    t = 1_000_000_000 + i * 5_000
                    os.utime(os.path.join(root, f), (t, t))
        stream = read_events_stream(spark, d + "/*")
        name = f"th_{uuid.uuid4().hex[:8]}"
        _run_to_memory(throttle_dedup(stream, gap_seconds=3600), name, "append")
        got = {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
        want = {
            tuple(r) for r in throttle_dedup(events, gap_seconds=3600).collect()
        }
        assert got == want
        # 1h gap on this fixture must both keep and suppress something
        assert 0 < len(want) < events.count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_capped_sessions_stream_matches_batch(spark, sf_dir):
    """capped_session_stats' streaming form (applyInPandasWithState +
    EventTimeTimeout timers) must emit exactly the sessions the
    batch two-window twin (the oracle-checked q157 plan) produces —
    including sessions split across micro-batch boundaries and
    trailing sessions flushed by TIMER, not by a closing event. The
    sorted-replay harness appends a sentinel far-future event for a
    dummy user so the final watermark passes every real session's
    deadline; the dummy's own (unflushable) session is excluded from
    the comparison."""
    import os

    from gov_data_pipeline_spark.streaming import (
        capped_session_stats,
        read_events_stream,
    )

    SENTINEL_USER = 10_000_000
    d = tempfile.mkdtemp(prefix="capped_sess_stream_")
    try:
        events = read_table(spark, sf_dir, "events")
        lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
        span = (hi - lo) / 3
        cuts = [lo + span, lo + 2 * span]
        ranges = [
            F.col("ts") < cuts[0],
            (F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1]),
            F.col("ts") >= cuts[2 - 1],
        ]
        for i, cond in enumerate(ranges):
            path = os.path.join(d, f"part{i}")
            events.filter(cond).coalesce(1).write.parquet(path)
        sentinel = spark.createDataFrame(
            [(99_999_999, SENTINEL_USER, "flush", 0.0, "{}")],
            "event_id long, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.lit(hi + __import__("datetime").timedelta(days=30)))
        sentinel.select(*events.columns).coalesce(1).write.parquet(
            os.path.join(d, "part3")
        )
        for i in range(4):
            path = os.path.join(d, f"part{i}")
            for root, _, files in os.walk(path):
                for f in files:
                    t = 1_000_000_000 + i * 5_000
                    os.utime(os.path.join(root, f), (t, t))
        stream = read_events_stream(spark, d + "/*")
        name = f"cs_{uuid.uuid4().hex[:8]}"
        _run_to_memory(
            capped_session_stats(stream, gap_seconds=43200, max_events=4),
            name,
            "append",
        )
        got = {
            tuple(r)
            for r in spark.sql(
                f"SELECT * FROM {name} WHERE user_id != {SENTINEL_USER}"
            ).collect()
        }
        want = {
            tuple(r)
            for r in capped_session_stats(
                events, gap_seconds=43200, max_events=4
            ).collect()
        }
        assert got == want
        # the fixture must exercise BOTH closing rules and the timer:
        # some sessions at the cap, some below it
        sizes = {r[3] for r in want}
        assert 4 in sizes and (sizes - {4})
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_capped_sessions_all_null_values_sum_to_zero(spark):
    """A session whose EVERY value is NULL must report sum_cents = 0 in
    BOTH modes: the streaming loop maps each NULL/NaN to 0 cents, and
    the batch twin coalesces its F.sum (which alone would return NULL
    for that edge — the round-9 advisor finding; the sf fixtures carry
    no NULL values, so only this test exercises it)."""
    import datetime as dt
    import os

    from gov_data_pipeline_spark.streaming import (
        capped_session_stats,
        read_events_stream,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: one 3-event session, every value NULL
        (1, 1, base, None, "a", "{}"),
        (2, 1, base + dt.timedelta(minutes=5), None, "a", "{}"),
        (3, 1, base + dt.timedelta(minutes=9), None, "a", "{}"),
        # user 2: mixed NULL and non-NULL in one session
        (4, 2, base, None, "a", "{}"),
        (5, 2, base + dt.timedelta(minutes=1), 2.5, "a", "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, value double, "
        "event_type string, props string",
    )
    batch = {
        tuple(r)
        for r in capped_session_stats(
            events, gap_seconds=3600, max_events=10
        ).collect()
    }
    sums = {r[0]: r[4] for r in batch}
    assert sums[1] == 0, "all-NULL session must sum to 0 cents, not NULL"
    assert sums[2] == 250

    d = tempfile.mkdtemp(prefix="capped_null_stream_")
    try:
        events.coalesce(1).write.parquet(os.path.join(d, "part0"))
        sentinel = spark.createDataFrame(
            [(99, 999, base + dt.timedelta(days=30), 0.0, "flush", "{}")],
            "event_id long, user_id long, ts timestamp, value double, "
            "event_type string, props string",
        )
        sentinel.coalesce(1).write.parquet(os.path.join(d, "part1"))
        for i in range(2):
            for root, _, files in os.walk(os.path.join(d, f"part{i}")):
                for f in files:
                    t = 1_000_000_000 + i * 5_000
                    os.utime(os.path.join(root, f), (t, t))
        name = f"csnull_{uuid.uuid4().hex[:8]}"
        _run_to_memory(
            capped_session_stats(
                read_events_stream(spark, d + "/*"),
                gap_seconds=3600,
                max_events=10,
            ),
            name,
            "append",
        )
        got = {
            tuple(r)
            for r in spark.sql(
                f"SELECT * FROM {name} WHERE user_id != 999"
            ).collect()
        }
        assert got == batch
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_token_bucket_stream_matches_batch(spark, sf_dir):
    """token_bucket_throttle's streaming form must emit exactly the
    rows the batch applyInPandas twin (the oracle-checked q161 plan)
    produces — including buckets draining ACROSS micro-batch
    boundaries (the balance and last-event anchor persist in
    GroupState). Sorted-replay harness as in the throttle test."""
    import os

    from gov_data_pipeline_spark.streaming import (
        read_events_stream,
        token_bucket_throttle,
    )

    d = tempfile.mkdtemp(prefix="bucket_stream_")
    try:
        events = read_table(spark, sf_dir, "events")
        lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
        span = (hi - lo) / 3
        cuts = [lo + span, lo + 2 * span]
        ranges = [
            F.col("ts") < cuts[0],
            (F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1]),
            F.col("ts") >= cuts[1],
        ]
        for i, cond in enumerate(ranges):
            path = os.path.join(d, f"part{i}")
            events.filter(cond).coalesce(1).write.parquet(path)
            for root, _, files in os.walk(path):
                for f in files:
                    t = 1_000_000_000 + i * 5_000
                    os.utime(os.path.join(root, f), (t, t))
        stream = read_events_stream(spark, d + "/*")
        name = f"tb_{uuid.uuid4().hex[:8]}"
        _run_to_memory(
            token_bucket_throttle(stream, rate_tokens=1, per_seconds=86400, burst=2),
            name,
            "append",
        )
        got = {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
        want = {
            tuple(r)
            for r in token_bucket_throttle(
                events, rate_tokens=1, per_seconds=86400, burst=2
            ).collect()
        }
        assert got == want
        # the fixture must exercise BOTH verdicts
        assert 0 < len(want) < events.count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_token_bucket_state_survives_restart(spark, sf_dir):
    """Checkpoint-restart contract for the new stateful ops: run the
    token bucket over the first two time-range files, STOP the query,
    then restart from the same checkpoint with a third file present —
    the bucket balances and last-event anchors must come back from the
    state store, so the union of both runs' (parquet-sink) output
    equals the one-shot batch twin. A restart that silently reset
    state would re-fill every bucket and over-admit the third file's
    events."""
    import os

    from gov_data_pipeline_spark.streaming import (
        read_events_stream,
        token_bucket_throttle,
    )

    d = tempfile.mkdtemp(prefix="bucket_restart_")
    out = tempfile.mkdtemp(prefix="bucket_out_")
    ckpt = tempfile.mkdtemp(prefix="bucket_ckpt_")
    try:
        events = read_table(spark, sf_dir, "events")
        lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
        span = (hi - lo) / 3
        cuts = [lo + span, lo + 2 * span]
        ranges = [
            F.col("ts") < cuts[0],
            (F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1]),
            F.col("ts") >= cuts[1],
        ]

        def write_part(i, cond):
            path = os.path.join(d, f"part{i}")
            events.filter(cond).coalesce(1).write.parquet(path)
            for root, _, files in os.walk(path):
                for f in files:
                    t = 1_000_000_000 + i * 5_000
                    os.utime(os.path.join(root, f), (t, t))

        def run_once():
            stream = read_events_stream(spark, d + "/*")
            q = (
                token_bucket_throttle(
                    stream, rate_tokens=1, per_seconds=86400, burst=2
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        write_part(0, ranges[0])
        write_part(1, ranges[1])
        run_once()  # first lifetime of the query
        n_first = spark.read.parquet(out).count()
        write_part(2, ranges[2])
        run_once()  # restarted from the same checkpoint

        got = {tuple(r) for r in spark.read.parquet(out).collect()}
        want = {
            tuple(r)
            for r in token_bucket_throttle(
                events, rate_tokens=1, per_seconds=86400, burst=2
            ).collect()
        }
        assert got == want
        # both lifetimes contributed rows (the restart actually resumed)
        assert 0 < n_first < len(got)
    finally:
        for p in (d, out, ckpt):
            shutil.rmtree(p, ignore_errors=True)


def test_transform_with_state_migration_probe():
    """Migration tripwire (SURVEY §15/§16): the timer-based stateful
    operators ship on ``applyInPandasWithState`` because Spark 4's
    ``transformWithStateInPandas`` state protocol imports
    ``google.protobuf`` (StateMessage_pb2), which this runtime lacks —
    the twS Python driver worker dies with "worker exited
    unexpectedly". This probe SKIPS with that reason while the block
    holds; the day the runtime gains protobuf it FAILS as a reminder
    to revisit the migration (named timers + typed state in
    streaming/stateful.py)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.skip(
            "transformWithStateInPandas migration blocked: "
            "google.protobuf is not importable in this runtime; "
            "applyInPandasWithState remains the shipped form "
            "(streaming/stateful.py, SURVEY §15)"
        )
    pytest.fail(
        "google.protobuf is now importable — the "
        "transformWithStateInPandas migration (named timers + typed "
        "state for capped_session_stats/token_bucket_throttle) is "
        "unblocked; see SURVEY §15"
    )


def test_stateful_restart_fuzz_matches_batch(spark, sf_dir):
    """Randomized replay+restart fuzz for the three custom stateful
    operators (cumulative alerts, capped sessions, token bucket): 20
    iterations, each with a RANDOM contiguous time-range split into
    2-5 micro-batch files AND a random checkpoint stop/restart
    boundary mid-stream, asserting bit-equality with the batch twin.
    The fixed-split tests above each pin one boundary; this is the
    generalization that hunts state-serialization-across-resume bugs
    no oracle or fixed replay can see (random splits also produce
    EMPTY micro-batches when two cuts land close together — a shape
    the fixed harnesses never exercise). Seeded rng: failures
    reproduce."""
    import datetime as dt
    import os
    import random

    from gov_data_pipeline_spark.streaming import (
        capped_session_stats,
        cumulative_alerts,
        read_events_stream,
        token_bucket_throttle,
    )

    SENTINEL_USER = 10_000_000
    events = read_table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    span = hi - lo
    sentinel = (
        spark.createDataFrame(
            [(99_999_999, SENTINEL_USER, "flush", 0.0, "{}")],
            "event_id long, user_id long, event_type string, "
            "value double, props string",
        )
        .withColumn("ts", F.lit(hi + dt.timedelta(days=30)))
        .select(*events.columns)
    )

    ops = {
        "alerts": (
            lambda df: cumulative_alerts(df, threshold=1000.0),
            False,
        ),
        "sessions": (
            lambda df: capped_session_stats(
                df, gap_seconds=43200, max_events=4
            ),
            True,
        ),
        "bucket": (
            lambda df: token_bucket_throttle(
                df, rate_tokens=1, per_seconds=86400, burst=2
            ),
            False,
        ),
    }
    # batch twins once — the input never changes across iterations
    want = {
        name: {tuple(r) for r in op(events).collect()}
        for name, (op, _) in ops.items()
    }
    assert all(want.values())

    # Draw EVERY iteration's parameters first, in the original rng
    # order, so the fuzz cases are bit-identical to the sequential
    # form — then run the (fully independent: own source/out/ckpt
    # dirs) iterations from a thread pool. Concurrent streaming
    # queries on one session are a supported Spark shape; this is
    # pure wall-clock (suite must fit the harness pytest budget,
    # VERDICT r13 item 1a): ~147 s -> ~40 s.
    rng = random.Random(0xC83F1E)
    cases = []
    for it in range(20):
        name = list(ops)[it % len(ops)]
        k = rng.randint(2, 5)
        fracs = sorted(rng.uniform(0.02, 0.98) for _ in range(k - 1))
        restart_after = rng.randint(1, k - 1)
        cases.append((it, name, k, fracs, restart_after))

    def run_case(case) -> str | None:
        it, name, k, fracs, restart_after = case
        op, needs_sentinel = ops[name]
        cuts = [lo + span * f for f in fracs]
        bounds = [None, *cuts, None]
        parts = []
        for i in range(k):
            cond = F.lit(True)
            if bounds[i] is not None:
                cond = cond & (F.col("ts") >= bounds[i])
            if bounds[i + 1] is not None:
                cond = cond & (F.col("ts") < bounds[i + 1])
            parts.append(events.filter(cond))
        if needs_sentinel:
            parts.append(sentinel)

        d = tempfile.mkdtemp(prefix=f"fuzz_{name}_{it}_src_")
        out = tempfile.mkdtemp(prefix=f"fuzz_{name}_{it}_out_")
        ckpt = tempfile.mkdtemp(prefix=f"fuzz_{name}_{it}_ckpt_")
        try:

            def write_part(i):
                path = os.path.join(d, f"part{i}")
                parts[i].coalesce(1).write.parquet(path)
                for root, _, files in os.walk(path):
                    for f in files:
                        t = 1_000_000_000 + i * 5_000
                        os.utime(os.path.join(root, f), (t, t))

            def run_once():
                q = (
                    op(read_events_stream(spark, d + "/*"))
                    .writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                assert q.awaitTermination(240), "streaming query hung"

            for i in range(restart_after):
                write_part(i)
            run_once()  # first lifetime
            for i in range(restart_after, len(parts)):
                write_part(i)
            run_once()  # restarted from the same checkpoint

            got = {
                tuple(r)
                for r in spark.read.parquet(out)
                .where(F.col("user_id") != SENTINEL_USER)
                .collect()
            }
            if got != want[name]:
                return (
                    f"iteration {it} ({name}): k={k} fracs={fracs} "
                    f"restart_after={restart_after} — stream+restart "
                    f"diverged from batch by {len(got ^ want[name])} rows"
                )
            return None
        finally:
            for p in (d, out, ckpt):
                shutil.rmtree(p, ignore_errors=True)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=5) as pool:
        diverged = sorted(r for r in pool.map(run_case, cases) if r)
    assert not diverged, diverged


def test_capped_sessions_state_and_timers_survive_restart(spark, sf_dir):
    """Restart contract for the TIMER-based operator: open sessions and
    their re-armed event-time timeouts must come back from the
    checkpoint — the second lifetime delivers the third time-range
    file plus the sentinel watermark-pusher, and the union of both
    lifetimes' output must equal the one-shot batch twin. A reset
    would fabricate session splits at the restart boundary."""
    import datetime as dt
    import os

    from gov_data_pipeline_spark.streaming import (
        capped_session_stats,
        read_events_stream,
    )

    SENTINEL_USER = 10_000_000
    d = tempfile.mkdtemp(prefix="sess_restart_")
    out = tempfile.mkdtemp(prefix="sess_out_")
    ckpt = tempfile.mkdtemp(prefix="sess_ckpt_")
    try:
        events = read_table(spark, sf_dir, "events")
        lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
        span = (hi - lo) / 3
        cuts = [lo + span, lo + 2 * span]
        parts = [
            events.filter(F.col("ts") < cuts[0]),
            events.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
            events.filter(F.col("ts") >= cuts[1]),
            spark.createDataFrame(
                [(99_999_999, SENTINEL_USER, "flush", 0.0, "{}")],
                "event_id long, user_id long, event_type string, value double, props string",
            ).withColumn("ts", F.lit(hi + dt.timedelta(days=30)))
            .select(*events.columns),
        ]

        def write_part(i):
            path = os.path.join(d, f"part{i}")
            parts[i].coalesce(1).write.parquet(path)
            for root, _, files in os.walk(path):
                for f in files:
                    t = 1_000_000_000 + i * 5_000
                    os.utime(os.path.join(root, f), (t, t))

        def run_once():
            stream = read_events_stream(spark, d + "/*")
            q = (
                capped_session_stats(stream, gap_seconds=43200, max_events=4)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        write_part(0)
        write_part(1)
        run_once()
        n_first = spark.read.parquet(out).count()
        write_part(2)
        write_part(3)  # sentinel: final watermark passes every deadline
        run_once()

        got = {
            tuple(r)
            for r in spark.read.parquet(out)
            .where(F.col("user_id") != SENTINEL_USER)
            .collect()
        }
        want = {
            tuple(r)
            for r in capped_session_stats(
                events, gap_seconds=43200, max_events=4
            ).collect()
        }
        assert got == want
        assert 0 < n_first < len(got)
    finally:
        for p in (d, out, ckpt):
            shutil.rmtree(p, ignore_errors=True)


def test_neardup_sink_containment_catches_excerpt_leaks(spark, tmp_path):
    """The containment probe at ingest: a short excerpt of a large
    corpus document has Jaccard far below any near-dup threshold (the
    LSH path ingests it) but containment ~1.0 — with
    ``containment_threshold`` it must drop, batch-vs-corpus AND
    intra-batch (subset-drop rule), in both the recompute and the
    profile-sidecar modes; and the stream's survivor set must equal
    the q163 batch operator's verdicts on the same five documents."""
    import os
    import time

    from pyspark.sql import functions as F

    from gov_data_pipeline_spark.operators.dedup import containment_pairs_text
    from gov_data_pipeline_spark.operators.graph import containment_dedup
    from gov_data_pipeline_spark.streaming import incremental_neardup_sink

    big = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    excerpt = "echo foxtrot golf hotel india juliet kilo lima"  # ⊂ big
    novel = "one two three four five six seven eight nine ten eleven twelve"
    novel_excerpt = "three four five six seven eight nine"  # ⊂ novel
    other = "entirely unrelated prose about broadcast joins and shuffles"

    b1 = [(1, big), (2, other)]
    b2 = [(3, excerpt), (4, novel), (5, novel_excerpt)]

    def write_batches(src):
        seen, t0 = set(), time.time()
        for i, rows in enumerate((b1, b2)):
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(src)
            for root, _, files in os.walk(src):
                for f in files:
                    p = os.path.join(root, f)
                    if p not in seen:
                        os.utime(p, (t0 + 10 * i, t0 + 10 * i))
                        seen.add(p)

    def run(src, corpus, ckpt, **kw):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            incremental_neardup_sink(
                stream, corpus, "text", "doc_id", ckpt, threshold=0.8, **kw
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["doc_id"] for r in spark.read.parquet(corpus).collect()}

    src = str(tmp_path / "src")
    write_batches(src)

    # without the probe, both excerpts leak straight past LSH-Jaccard
    got_plain = run(src, str(tmp_path / "c0"), str(tmp_path / "k0"))
    assert got_plain == {1, 2, 3, 4, 5}

    got = run(
        src, str(tmp_path / "c1"), str(tmp_path / "k1"),
        containment_threshold=0.9,
    )
    assert got == {1, 2, 4}

    got_side = run(
        src, str(tmp_path / "c2"), str(tmp_path / "k2"),
        containment_threshold=0.9, profile_sidecar=True,
    )
    assert got_side == {1, 2, 4}

    # stream == batch: q163's operators on the same five documents
    all5 = spark.createDataFrame(b1 + b2, "doc_id long, text string")
    pairs = containment_pairs_text(
        all5, "doc_id", F.col("text"), threshold=0.9
    )
    verdicts = containment_dedup(pairs, all5, "doc_id", threshold=0.9)
    batch_kept = {r["doc_id"] for r in verdicts.filter("kept").collect()}
    assert batch_kept == got


def test_scored_ingest_sink_filters_and_quarantines(spark, tmp_path):
    """Learned quality filtering at ingest: a hand-built weight table
    (positive 'clean', negative 'spam') routes each micro-batch row to
    the corpus or the quarantine; the quarantine keeps the logit audit
    column; batch verdicts equal score_linear_model on the same rows;
    a fresh-checkpoint replay appends nothing (ids anti-join against
    both outputs)."""
    import os
    import time

    from pyspark.sql import functions as F

    from gov_data_pipeline_spark.operators.scoring import score_linear_model
    from gov_data_pipeline_spark.streaming import scored_ingest_sink

    n = 1 << 10
    b1 = [(1, "clean prose about joins"), (2, "spam spam buy now spam")]
    b2 = [(3, "more clean prose here"), (4, "buy spam now")]
    # model: hand weights over the hashed unigrams of the two marker
    # words — every other token misses the table and scores 0
    marker = spark.createDataFrame(
        [("clean", 500), ("spam", -500)], "tok string, w long"
    )
    from gov_data_pipeline_spark.operators.dedup import md5_h1h2

    h1, _ = md5_h1h2(F.col("tok"))
    weights = marker.select(
        F.pmod(h1, F.lit(n)).cast("long").alias("feature_id"),
        F.col("w").alias("weight"),
    )

    src = str(tmp_path / "src")
    seen, t0 = set(), time.time()
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
        for root, _, files in os.walk(src):
            for f in files:
                p = os.path.join(root, f)
                if p not in seen:
                    os.utime(p, (t0 + 10 * i, t0 + 10 * i))
                    seen.add(p)

    corpus = str(tmp_path / "corpus")
    quarantine = str(tmp_path / "quarantine")

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            scored_ingest_sink(
                stream, corpus, "text", "doc_id", ckpt, weights,
                n_features=n, hash_family="md5",
                quarantine_path=quarantine,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(str(tmp_path / "k1"))
    kept = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    quar = {
        r["doc_id"]: r["logit"]
        for r in spark.read.parquet(quarantine).collect()
    }
    assert kept == {1, 3}
    assert set(quar) == {2, 4}
    assert all(v < 0 for v in quar.values())  # audit column survives

    # stream == batch: same verdicts as the batch scorer on all rows
    all_rows = spark.createDataFrame(
        b1 + b2, "doc_id long, text string"
    )
    batch = {
        r["doc_id"]: (r["kept"], r["logit"])
        for r in score_linear_model(
            all_rows, "doc_id", F.col("text"), weights,
            n_features=n, hash_family="md5",
        ).collect()
    }
    assert {d for d, (k, _) in batch.items() if k} == kept
    assert {d: l for d, (k, l) in batch.items() if not k} == quar

    # fresh-checkpoint replay: every id already lives in an output
    run(str(tmp_path / "k2"))
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == kept
    assert {
        r["doc_id"] for r in spark.read.parquet(quarantine).collect()
    } == set(quar)


def test_decontaminating_sink_rejects_reserved_column(spark, tmp_path):
    """A stream whose schema already carries 'n_hit_grams' (any case)
    would silently mis-route rows at the isNull gate — the sink must
    refuse at construction (the sampling.py _guard_sample_rank
    pattern), not per batch."""
    import pytest as _pytest

    from gov_data_pipeline_spark.streaming import decontaminating_ingest_sink

    bench = spark.createDataFrame([("a b c",)], "s string")
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "x", 0)], "doc_id long, text string, N_HIT_GRAMS long"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, N_HIT_GRAMS long"
    ).parquet(src)
    with _pytest.raises(ValueError, match="n_hit_grams"):
        decontaminating_ingest_sink(
            stream, str(tmp_path / "c"), "text", "doc_id",
            str(tmp_path / "k"), bench,
        )


def test_decontaminating_ingest_sink_gates_and_quarantines(
    spark, tmp_path, checkpoint_dir
):
    """Benchmark decontamination at ingest: a doc embedding an eval-set
    13-gram is quarantined WITH its matched-gram count, clean docs
    append to the corpus; stream verdicts equal the batch q87-style
    gate on the same rows; a fresh-checkpoint replay appends nothing;
    ``reliable_checkpoint=True`` gives the same outputs."""
    import os
    import time

    from pyspark.sql import functions as F

    from gov_data_pipeline_spark.operators.dedup import word_shingles
    from gov_data_pipeline_spark.streaming import decontaminating_ingest_sink

    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike"
    bench = spark.createDataFrame([(bench_text,)], "text string").select(
        F.explode(word_shingles(F.col("text"), 13)).alias("s")
    )
    clean = "the quick brown fox jumps over the lazy dog again and again today"
    b1 = [(1, clean + " one"), (2, clean + " two")]
    # doc 3 embeds the full benchmark span mid-document -> contaminated
    b2 = [
        (3, "prefix words " + bench_text + " suffix words"),
        (4, clean + " four"),
    ]

    src = str(tmp_path / "src")
    seen, t0 = set(), time.time()
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
        for root, _, files in os.walk(src):
            for f in files:
                p = os.path.join(root, f)
                if p not in seen:
                    os.utime(p, (t0 + 10 * i, t0 + 10 * i))
                    seen.add(p)

    corpus = str(tmp_path / "corpus")
    quarantine = str(tmp_path / "quarantine")

    def run(ckpt, corpus=corpus, quarantine=quarantine, reliable=False):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            decontaminating_ingest_sink(
                stream, corpus, "text", "doc_id", ckpt, bench,
                n=13, quarantine_path=quarantine,
                reliable_checkpoint=reliable,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(str(tmp_path / "k1"))
    kept = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    quar = {
        r["doc_id"]: r["n_hit_grams"]
        for r in spark.read.parquet(quarantine).collect()
    }
    assert kept == {1, 2, 4}
    assert set(quar) == {3}
    assert quar[3] >= 1  # audit column survives

    # stream == batch: the q87-style gate on all rows agrees
    all_rows = spark.createDataFrame(b1 + b2, "doc_id long, text string")
    ex = all_rows.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 13)).alias("s")
    )
    contaminated = {
        r["doc_id"]
        for r in ex.join(F.broadcast(bench), "s", "left_semi")
        .select("doc_id").distinct().collect()
    }
    assert contaminated == set(quar)
    assert kept == {1, 2, 3, 4} - contaminated

    # fresh-checkpoint replay: every id already lives in an output
    run(str(tmp_path / "k2"))
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == kept
    assert {
        r["doc_id"] for r in spark.read.parquet(quarantine).collect()
    } == set(quar)

    # the benchmark set pinned by a reliable checkpoint: same verdicts
    # and audit counts as the localCheckpoint pin
    corpus_r, quarantine_r = str(tmp_path / "corpus_r"), str(tmp_path / "quar_r")
    run(str(tmp_path / "k3"), corpus_r, quarantine_r, reliable=True)
    assert {r["doc_id"] for r in spark.read.parquet(corpus_r).collect()} == kept
    assert {
        r["doc_id"]: r["n_hit_grams"]
        for r in spark.read.parquet(quarantine_r).collect()
    } == quar
