"""Units for the skew/upsert relational operators (q71-q73 backing)."""

from pyspark.sql import functions as F

from gov_data_pipeline_spark.operators.relational import salted_join, upsert_latest


class TestSaltedJoin:
    def test_inner_matches_plain_join(self, spark):
        big = spark.createDataFrame(
            [(i % 3, f"v{i}") for i in range(100)], "k long, payload string"
        )
        small = spark.createDataFrame(
            [(0, "zero"), (1, "one"), (2, "two"), (9, "unused")],
            "k long, name string",
        )
        got = {tuple(r) for r in salted_join(big, small, ["k"], salt=8).collect()}
        want = {tuple(r) for r in big.join(small, ["k"]).collect()}
        assert got == want and len(want) == 100

    def test_left_keeps_unmatched(self, spark):
        big = spark.createDataFrame([(1, "a"), (5, "b")], "k long, payload string")
        small = spark.createDataFrame([(1, "one")], "k long, name string")
        got = {tuple(r) for r in salted_join(big, small, ["k"], salt=4, how="left").collect()}
        want = {tuple(r) for r in big.join(small, ["k"], "left").collect()}
        assert got == want
        assert (5, "b", None) in got

    def test_rejects_outer(self, spark):
        import pytest

        df = spark.range(1)
        with pytest.raises(ValueError):
            salted_join(df, df, ["id"], how="full")


class TestUpsertLatest:
    def test_update_wins_and_inserts_append(self, spark):
        base = spark.createDataFrame(
            [(1, "old", 0), (2, "keep", 0)], "k long, v string, version int"
        )
        updates = spark.createDataFrame(
            [(1, "new", 1), (3, "ins", 1)], "k long, v string, version int"
        )
        got = {
            r["k"]: r["v"]
            for r in upsert_latest(base, updates, ["k"], "version").collect()
        }
        assert got == {1: "new", 2: "keep", 3: "ins"}


class TestDegenerateInputs:
    """Operators must not blow up on empty or single-row relations —
    the shapes that appear at the tail of a filtered 100 TB pipeline."""

    def test_connected_components_empty(self, spark):
        from gov_data_pipeline_spark.operators.graph import connected_components

        pairs = spark.createDataFrame([], "a_id long, b_id long")
        assert connected_components(pairs).count() == 0

    def test_dedup_clusters_no_pairs(self, spark):
        from gov_data_pipeline_spark.operators.graph import dedup_clusters

        pairs = spark.createDataFrame([], "a_id long, b_id long")
        corpus = spark.createDataFrame([(1,), (2,)], "doc_id long")
        rows = {r["doc_id"]: r for r in dedup_clusters(pairs, corpus, "doc_id").collect()}
        assert all(r["is_canonical"] for r in rows.values())

    def test_bm25_empty_corpus(self, spark):
        from gov_data_pipeline_spark.operators.search import bm25_scores
        import pyspark.sql.functions as F

        docs = spark.createDataFrame([], "doc_id long, text string")
        assert bm25_scores(docs, "doc_id", F.col("text"), ["x"]).count() == 0

    def test_salted_join_empty_sides(self, spark):
        from gov_data_pipeline_spark.operators.relational import salted_join

        empty = spark.createDataFrame([], "k long, v string")
        one = spark.createDataFrame([(1, "a")], "k long, v string")
        assert salted_join(empty, one, ["k"]).count() == 0
        assert salted_join(one, empty.withColumnRenamed("v", "w"), ["k"]).count() == 0

    def test_minhash_single_doc(self, spark):
        from gov_data_pipeline_spark.operators.dedup import minhash_doc_profile

        ex = spark.createDataFrame([(1, "a b c")], "doc_id long, s string")
        for fam in ("xxhash64", "md5"):
            sig = minhash_doc_profile(ex, "doc_id", 8, hash_family=fam).collect()
            assert len(sig) == 1 and len(sig[0]["sig"]) == 8

    def test_upsert_latest_empty_updates(self, spark):
        from gov_data_pipeline_spark.operators.relational import upsert_latest

        base = spark.createDataFrame([(1, "a", 0)], "k long, v string, version int")
        updates = spark.createDataFrame([], "k long, v string, version int")
        assert upsert_latest(base, updates, ["k"], "version").count() == 1


class TestAsofNullFields:
    def test_asof_join_does_not_mix_right_rows_on_nulls(self, spark):
        """The matched right row must arrive atomically: a NULL field in
        the latest right row must NOT be backfilled from an earlier
        right row (per-column last(ignorenulls) used to fabricate rows)."""
        from gov_data_pipeline_spark.operators.relational import asof_join

        left = spark.createDataFrame([(1, 3)], "k long, lt long")
        right = spark.createDataFrame(
            [(1, 1, 5, 7), (1, 2, None, 9)], "k long, rt long, x long, y long"
        )
        row = asof_join(
            left, right, on="k", left_time="lt", right_time="rt"
        ).collect()[0]
        assert row["asof_rt"] == 2
        assert row["asof_x"] is None  # latest right row's own NULL
        assert row["asof_y"] == 9


class TestScd2History:
    def test_intervals_from_changelog(self, spark):
        from gov_data_pipeline_spark.operators.relational import scd2_history

        log = spark.createDataFrame(
            [
                # key 1: a -> a (no change) -> b -> b -> a
                (1, "a", 10, 100),
                (1, "a", 20, 101),
                (1, "b", 30, 102),
                (1, "b", 40, 103),
                (1, "a", 50, 104),
                # key 2: single observation
                (2, "x", 15, 200),
            ],
            "k long, attr string, ts long, src long",
        )
        rows = {
            (r["k"], r["effective_from"]): r
            for r in scd2_history(
                log, ["k"], ["attr"], "ts", tiebreak_cols=["src"]
            ).collect()
        }
        assert len(rows) == 4
        assert rows[(1, 10)]["attr"] == "a" and rows[(1, 10)]["effective_to"] == 30
        assert rows[(1, 30)]["attr"] == "b" and rows[(1, 30)]["effective_to"] == 50
        assert rows[(1, 50)]["attr"] == "a" and rows[(1, 50)]["is_current"]
        assert rows[(2, 15)]["is_current"] and rows[(2, 15)]["effective_to"] is None

    def test_null_attribute_is_a_state_not_a_change_repeat(self, spark):
        """NULL attr observed twice in a row is ONE interval (null-safe
        compare), but a->NULL->a is three."""
        from gov_data_pipeline_spark.operators.relational import scd2_history

        log = spark.createDataFrame(
            [(1, "a", 10), (1, None, 20), (1, None, 30), (1, "a", 40)],
            "k long, attr string, ts long",
        )
        out = scd2_history(log, ["k"], ["attr"], "ts").collect()
        assert sorted(r["effective_from"] for r in out) == [10, 20, 40]

    def test_same_timestamp_tiebreak_deterministic(self, spark):
        from gov_data_pipeline_spark.operators.relational import scd2_history

        log = spark.createDataFrame(
            [(1, "a", 10, 1), (1, "b", 10, 2)], "k long, attr string, ts long, src long"
        )
        out = sorted(
            scd2_history(log, ["k"], ["attr"], "ts", tiebreak_cols=["src"]).collect(),
            key=lambda r: r["src"] if "src" in r else 0,
        )
        # src=2 sorts last -> "b" is the current version
        cur = [r for r in out if r["is_current"]]
        assert len(cur) == 1 and cur[0]["attr"] == "b"


class TestPiiRedact:
    def test_chain_and_counts(self, spark):
        from gov_data_pipeline_spark.functions.pii import (
            pii_count_col,
            pii_redact_col,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [
                (
                    "mail a.b-c_1@ex.co , card 4111 1111 1111 1234, "
                    "tel +375 29 1234567, ip 192.168.0.1 end",
                )
            ],
            "t string",
        )
        row = df.select(
            pii_redact_col(F.col("t")).alias("red"),
            pii_count_col(F.col("t"), "email").alias("ne"),
            pii_count_col(F.col("t"), "card").alias("nc"),
            pii_count_col(F.col("t"), "phone").alias("np"),
            pii_count_col(F.col("t"), "ipv4").alias("ni"),
        ).collect()[0]
        assert "[EMAIL]" in row["red"] and "[CARD]" in row["red"]
        assert "[PHONE]" in row["red"] and "[IP]" in row["red"]
        assert "4111" not in row["red"] and "1234567" not in row["red"]
        assert row["ne"] == 1 and row["nc"] == 1 and row["ni"] == 1
        # phone counts its own match plus the card's leading digit run
        # (counts are per-class on the ORIGINAL text, documented)
        assert row["np"] == 2

    def test_clean_text_untouched(self, spark):
        from gov_data_pipeline_spark.functions.pii import pii_redact_col
        from pyspark.sql import functions as F

        df = spark.createDataFrame([("no pii here at all",)], "t string")
        assert (
            df.select(pii_redact_col(F.col("t")).alias("r")).collect()[0]["r"]
            == "no pii here at all"
        )


class TestOutlierDegenerate:
    def test_constant_class_drops_instead_of_throwing(self, spark):
        """A class with constant values (sd = 0) and a single-row class
        (sd = NULL) must contribute no outliers — not DIVIDE_BY_ZERO
        under ANSI mode."""
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, "const", 5.0), (2, "const", 5.0), (3, "single", 9.0)],
            "event_id long, event_type string, value double",
        )
        stats = df.groupBy("event_type").agg(
            F.avg("value").alias("__m"), F.stddev_samp("value").alias("__sd")
        )
        z = F.round(F.try_divide(F.col("value") - F.col("__m"), F.col("__sd")), 4)
        out = (
            df.join(F.broadcast(stats), "event_type")
            .select("event_id", z.alias("z"))
            .filter(F.abs(F.col("z")) >= 3.0)
            .collect()
        )
        assert out == []


class TestExpectations:
    def test_null_verdicts_count_as_violations(self, spark):
        """A NULL comparison result (NULL value under a range check)
        must count as a violation — strict posture, pinned."""
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.operators.expect import (
            expectations_report,
        )

        df = spark.createDataFrame(
            [(1.0,), (None,), (99.0,)], "v double"
        )
        rep = expectations_report(
            df, [("v_in_range", F.col("v").between(0, 10))]
        ).collect()
        assert rep[0]["n_rows"] == 3
        # 99.0 fails the range, NULL fails strictly -> 2 violations
        assert rep[0]["n_violations"] == 2

    def test_fk_null_keys_are_orphans(self, spark):
        from gov_data_pipeline_spark.operators.expect import (
            fk_violation_count,
        )

        child = spark.createDataFrame(
            [(1,), (None,), (7,)], "k int"
        )
        parent = spark.createDataFrame([(1,), (2,)], "pk int")
        n = fk_violation_count(child, parent, "k", "pk").collect()[0][
            "n_violations"
        ]
        # 7 has no parent; NULL never matches -> both orphans
        assert n == 2


class TestAsofDirections:
    """asof_join direction='forward'/'nearest' vs pandas.merge_asof —
    the reference implementation of the semantics (incl. the
    ties-to-prior nearest convention)."""

    def _run(self, spark, left_rows, right_rows, direction):
        import pandas as pd

        from gov_data_pipeline_spark.operators.relational import asof_join

        left = spark.createDataFrame(left_rows, "lid int, k string, lt timestamp")
        right = spark.createDataFrame(right_rows, "k string, rt timestamp, v double")
        got = {
            r.lid: (r.asof_rt, r.asof_v)
            for r in asof_join(
                left, right, on="k", left_time="lt", right_time="rt",
                direction=direction,
            ).collect()
        }
        lp = pd.DataFrame(left_rows, columns=["lid", "k", "lt"]).sort_values("lt")
        rp = pd.DataFrame(right_rows, columns=["k", "rt", "v"]).sort_values("rt")
        m = pd.merge_asof(
            lp, rp, left_on="lt", right_on="rt", by="k", direction=direction
        )
        want = {
            int(r.lid): (
                None if pd.isna(r.rt) else r.rt.to_pydatetime(),
                None if pd.isna(r.v) else r.v,
            )
            for r in m.itertuples()
        }
        assert got == want, f"{direction}: {got} != {want}"

    def test_all_directions_match_pandas_merge_asof(self, spark):
        import datetime as dt
        import random

        rng = random.Random(1234)
        E = dt.datetime(2024, 1, 1)
        for trial in range(3):
            left_rows = [
                (i, rng.choice("ab"), E + dt.timedelta(minutes=rng.randrange(120)))
                for i in range(20)
            ]
            right_rows = [
                (
                    rng.choice("ac"),
                    E + dt.timedelta(minutes=rng.randrange(120)),
                    float(rng.randrange(100)),
                )
                for _ in range(15)
            ]
            for d in ("backward", "forward", "nearest"):
                self._run(spark, left_rows, right_rows, d)

    def test_equal_time_tie_goes_to_prior(self, spark):
        import datetime as dt

        E = dt.datetime(2024, 1, 1)
        # right rows exactly 2 min before AND after the left row: the
        # nearest tie must resolve to the PRIOR (merge_asof convention)
        self._run(
            spark,
            [(1, "k", E + dt.timedelta(minutes=10))],
            [("k", E + dt.timedelta(minutes=8), 1.0),
             ("k", E + dt.timedelta(minutes=12), 2.0)],
            "nearest",
        )

    def test_microsecond_payload_tie_still_goes_to_prior(self, spark):
        """The regression the review simulation found: with NON-ZERO
        microsecond payloads (every fixture row has them), epoch-second
        DOUBLE distances quantize and flip ~25% of exact ties to the
        forward row; the exact int64-micros compare must hold the
        ties-to-prior contract on exactly such timestamps."""
        import datetime as dt

        E = dt.datetime(2024, 1, 1, 0, 0, 0, 123457)  # odd micros
        D = dt.timedelta(seconds=1, microseconds=337)
        self._run(
            spark,
            [(1, "k", E)],
            [("k", E - D, 1.0), ("k", E + D, 2.0)],
            "nearest",
        )

    def test_unknown_direction_raises(self, spark):
        import pytest as _pytest

        from gov_data_pipeline_spark.operators.relational import asof_join

        left = spark.createDataFrame([(1, "k")], "lid int, k string")
        with _pytest.raises(ValueError, match="sideways"):
            asof_join(left, left, on="k", left_time="lid", right_time="lid",
                      direction="sideways")
