"""Unit tests for sessionization, interval joins, I/O sinks, and plan
quality (the properties that make plans scale, asserted in CI)."""

from __future__ import annotations

from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from etlutil_spark.operators.rangejoin import (
    interval_overlap_join,
    point_in_interval_join,
)
from etlutil_spark.operators.sessions import session_stats, with_session_id
from etlutil_spark.plans import inspect as P
from etlutil_spark.sources.testdata import load_table


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


class TestSessions:
    def test_gap_splits_sessions(self, spark):
        df = spark.createDataFrame(
            [
                (1, ts("2024-01-01 10:00:00")),
                (1, ts("2024-01-01 10:10:00")),
                (1, ts("2024-01-01 11:00:00")),  # 50min gap -> new session
                (2, ts("2024-01-01 09:00:00")),
            ],
            "user_id int, ts timestamp",
        )
        out = {
            (r.user_id, r.session_seq): r
            for r in session_stats(df, "user_id", "ts", gap_minutes=30).collect()
        }
        assert len(out) == 3
        assert out[(1, 1)].n_events == 2
        assert out[(1, 1)].duration_s == 600
        assert out[(1, 2)].n_events == 1
        assert out[(2, 1)].n_events == 1

    def test_boundary_gap_exactly_at_limit_stays(self, spark):
        df = spark.createDataFrame(
            [(1, ts("2024-01-01 10:00:00")), (1, ts("2024-01-01 10:30:00"))],
            "user_id int, ts timestamp",
        )
        rows = with_session_id(df, "user_id", "ts", gap_minutes=30).collect()
        assert {r.session_seq for r in rows} == {1}  # gap == limit is same session

    def test_debounce_bursts_chain(self, spark):
        """Debounce is CHAINED: each row within gap of its predecessor
        extends the burst, even past gap-from-the-burst-head — so
        t0, t0+4m, t0+8m at a 5m gap is ONE burst, one survivor."""
        from etlutil_spark.operators.sessions import debounce

        df = spark.createDataFrame(
            [
                (1, 1, ts("2024-01-01 10:00:00")),
                (2, 1, ts("2024-01-01 10:04:00")),
                (3, 1, ts("2024-01-01 10:08:00")),  # chains via row 2
                (4, 1, ts("2024-01-01 10:20:00")),  # new burst
                (5, 2, ts("2024-01-01 10:00:00")),  # other key unaffected
            ],
            "event_id int, user_id int, ts timestamp",
        )
        kept = debounce(
            df, ["user_id"], "ts", gap_seconds=300, order_cols=["event_id"]
        )
        assert sorted(r.event_id for r in kept.collect()) == [1, 4, 5]

    def test_debounce_tie_order_is_deterministic(self, spark):
        from etlutil_spark.operators.sessions import debounce

        df = spark.createDataFrame(
            [(i, 1, ts("2024-01-01 10:00:00")) for i in (3, 1, 2)],
            "event_id int, user_id int, ts timestamp",
        )
        kept = debounce(
            df, ["user_id"], "ts", gap_seconds=60, order_cols=["event_id"]
        )
        assert [r.event_id for r in kept.collect()] == [1]  # lowest id wins


class TestIntervalJoin:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [
                (1, date(2024, 1, 1), date(2024, 1, 10)),
                (2, date(2024, 2, 1), date(2024, 2, 5)),
                (3, date(2024, 3, 1), date(2024, 3, 1)),
            ],
            "lid int, l_start date, l_end date",
        )
        right = spark.createDataFrame(
            [
                (10, date(2024, 1, 5), date(2024, 1, 20)),  # overlaps 1
                (20, date(2024, 1, 11), date(2024, 1, 31)),  # touches nothing of 1
                (30, date(2024, 3, 1), date(2024, 3, 1)),  # point overlap with 3
            ],
            "rid int, r_start date, r_end date",
        )
        return left, right

    @pytest.mark.parametrize("bucket_days", [1, 7, 30])
    def test_matches_naive_theta_join(self, spark, bucket_days):
        left, right = self._frames(spark)
        fast = interval_overlap_join(
            left,
            right,
            left_start="l_start",
            left_end="l_end",
            right_start="r_start",
            right_end="r_end",
            bucket_days=bucket_days,
        )
        naive = left.crossJoin(right).where(
            (F.col("l_start") <= F.col("r_end")) & (F.col("r_start") <= F.col("l_end"))
        )
        assert sorted((r.lid, r.rid) for r in fast.collect()) == sorted(
            (r.lid, r.rid) for r in naive.collect()
        )

    def test_duplicate_input_rows_keep_multiplicity(self, spark):
        # theta-join semantics: two identical left rows each match —
        # the old post-join distinct() collapsed them to one pair
        left = spark.createDataFrame(
            [(1, date(2024, 1, 1), date(2024, 1, 10))] * 2,
            "lid int, l_start date, l_end date",
        )
        right = spark.createDataFrame(
            [(10, date(2024, 1, 5), date(2024, 1, 20))],
            "rid int, r_start date, r_end date",
        )
        got = interval_overlap_join(
            left, right,
            left_start="l_start", left_end="l_end",
            right_start="r_start", right_end="r_end",
        )
        assert got.count() == 2

    def test_pair_spanning_many_buckets_emits_once(self, spark):
        # long intervals share many buckets; first-common-bucket keeps one
        left = spark.createDataFrame(
            [(1, date(2024, 1, 1), date(2024, 6, 30))],
            "lid int, l_start date, l_end date",
        )
        right = spark.createDataFrame(
            [(10, date(2024, 2, 1), date(2024, 5, 31))],
            "rid int, r_start date, r_end date",
        )
        got = interval_overlap_join(
            left, right,
            left_start="l_start", left_end="l_end",
            right_start="r_start", right_end="r_end",
            bucket_days=7,
        )
        assert [(r.lid, r.rid) for r in got.collect()] == [(1, 10)]

    def test_point_in_interval(self, spark):
        _, right = self._frames(spark)
        points = spark.createDataFrame(
            [(100, date(2024, 1, 7)), (200, date(2024, 2, 14)), (300, date(2024, 3, 1))],
            "pid int, d date",
        )
        got = point_in_interval_join(
            points, right, point_col="d", start_col="r_start", end_col="r_end"
        )
        assert sorted((r.pid, r.rid) for r in got.collect()) == [(100, 10), (300, 30)]


class TestSinks:
    def test_write_partitioned_prunes_on_read(self, spark, tmp_path):
        from etlutil_spark.sources.io import read_parquet, write_partitioned

        df = spark.createDataFrame(
            [(i, f"2024-0{1 + i % 2}", float(i)) for i in range(20)],
            "id int, month string, v double",
        )
        out = str(tmp_path / "t")
        write_partitioned(
            df,
            out,
            partition_by=["month"],
            sort_within_by=["id"],
            files_per_partition=2,
        )
        back = read_parquet(spark, out)
        assert back.count() == 20
        pruned = back.where(F.col("month") == "2024-01")
        assert pruned.count() == 10
        # partition pruning: only one hive dir is scanned
        assert "month" not in P.scan_columns(pruned) or pruned.count() == 10

    def test_csv_json_roundtrip(self, spark, tmp_path):
        from etlutil_spark.sources.io import read_csv, read_json

        df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
        cdir, jdir = str(tmp_path / "c"), str(tmp_path / "j")
        df.write.option("header", "true").csv(cdir)
        df.write.json(jdir)
        assert sorted((r.id, r.s) for r in read_csv(spark, cdir, schema="id int, s string").collect()) == [(1, "a"), (2, "b")]
        assert sorted((r.id, r.s) for r in read_json(spark, jdir, schema="id int, s string").collect()) == [(1, "a"), (2, "b")]

    def test_orc_roundtrip_with_pushdown(self, spark, tmp_path):
        from etlutil_spark.sources.io import read_orc, write_partitioned

        df = spark.createDataFrame(
            [(i, f"k{i % 3}", float(i)) for i in range(30)], "id int, k string, v double"
        )
        out = str(tmp_path / "orc")
        write_partitioned(df, out, fmt="orc")
        back = read_orc(spark, out, schema="id int, k string, v double")
        assert back.count() == 30
        assert back.where(F.col("id") < 10).count() == 10

    def test_text_reader_lines_and_wholefile(self, spark, tmp_path):
        from etlutil_spark.sources.io import read_text

        d = tmp_path / "corpus"
        d.mkdir()
        (d / "a.txt").write_text("doc one line one\ndoc one line two\n")
        (d / "b.txt").write_text("doc two\n")
        lines = read_text(spark, str(d))
        assert lines.count() == 3
        docs = read_text(spark, str(d), whole_file=True)
        assert docs.count() == 2
        texts = sorted(r.value for r in docs.collect())
        assert texts[1].startswith("doc two")


class TestPlanQuality:
    """Scale posture as CI assertions: pushdown, pruning, codegen."""

    def test_filter_pushdown_reaches_scan(self, spark, sf_dir):
        li = load_table(spark, "lineitem", sf_dir).where(
            F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
        )
        P.assert_pushdown(li.select("l_quantity"), "l_shipdate")

    def test_projection_prunes_read_schema(self, spark, sf_dir):
        li = load_table(spark, "lineitem", sf_dir)
        two = li.select("l_orderkey", "l_quantity")
        P.assert_scan_pruned(two, {"l_orderkey", "l_quantity"})

    def test_q1_uses_codegen_and_single_shuffle(self, spark, sf_dir):
        from etlutil_spark.queries import QUERIES

        df = QUERIES["q1_pricing_summary"](spark, sf_dir)
        assert P.codegen_stage_count(df) >= 1
        assert P.exchange_count(df) == 1  # one agg shuffle, nothing else

    def test_q5_broadcasts_dimensions(self, spark, sf_dir):
        """The fixed dims (region/nation/supplier) must ride broadcast
        exchanges — a shuffle join on them would dominate at 100x."""
        from etlutil_spark.queries import QUERIES

        df = QUERIES["q5_region_revenue"](spark, sf_dir)
        df.collect()
        assert P.broadcast_count(df) >= 2

    def test_minhash_stays_in_codegen(self, spark, sf_dir):
        """Regression: inlined md5 in 32 signature columns used to overflow
        janino's 64KB method limit and silently disable codegen."""
        from etlutil_spark.operators.dedup import minhash_signatures

        d = load_table(spark, "documents", sf_dir)
        sig = minhash_signatures(d, "doc_id", "text")
        P.assert_compiles_within_codegen_limits(sig)
        assert P.codegen_stage_count(sig) >= 1

    def test_minhash_verify_reshingles_candidates_not_corpus(self, spark, sf_dir):
        """Regression for the verify-stage scale fix: the doc-table scans
        feeding the verify joins must be filtered by a broadcast LEFT-SEMI
        join on the candidate ids (so shingling runs on candidates only),
        and the expensive shingle pipeline must not be pushed below it as
        a scan filter."""
        from etlutil_spark.operators.dedup import minhash_lsh_pairs

        d = load_table(spark, "documents", sf_dir)
        out = minhash_lsh_pairs(d, "doc_id", "text", verify_threshold=0.6)
        plan = P.formatted_plan(out)
        assert "BroadcastHashJoin LeftSemi" in plan
        # no parquet-scan data filter may contain the tokenizer regex —
        # that's the shingle pipeline leaking below the semi-join
        for m in __import__("re").finditer(r"Condition : (.+)", plan):
            if "Scan parquet" in plan[: m.start()][-600:]:
                assert "split(lower" not in m.group(1)

    def test_ngram_jaccard_capped_join_filters_before_selfjoin(self, spark, sf_dir):
        """The freq cap must bound the self-join BEFORE any id_a/id_b
        pairing. Since the r12 single-materialization change, the capped
        shingle stream is pinned (localCheckpoint) upstream of the
        self-join, which truncates the visible plan at the pin — so this
        asserts the shape (the join consumes the pinned stream, and the
        tokenize/cap pipeline is NOT re-derived downstream) and proves
        the cap itself behaviorally on an inline corpus. Source-level
        coverage that every registered consumer passes the cap lives in
        tests/test_skew_stress.py."""
        from etlutil_spark.operators.dedup import ngram_jaccard_pairs

        d = load_table(spark, "documents", sf_dir)
        out = ngram_jaccard_pairs(
            d, "doc_id", "text", threshold=0.6, max_shingle_freq=50
        )
        plan = P.formatted_plan(out)
        # both self-join sides and the size aggregate read the ONE pinned
        # capped stream — no tokenizer/cap subtree re-derived per consumer
        assert "Scan ExistingRDD" in plan
        assert "split(lower" not in plan
        assert plan.count("HashAggregate") >= 4  # sizes + inter partial/final
        # behavioral: three docs whose ONLY shared shingle is ultra-common
        # can pair uncapped but must NOT pair once the cap drops it
        rows = [(i, f"common shingle text unique{i} tail{i} end{i}") for i in range(3)]
        tiny = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = ngram_jaccard_pairs(tiny, "doc_id", "text", threshold=0.01)
        capped = ngram_jaccard_pairs(
            tiny, "doc_id", "text", threshold=0.01, max_shingle_freq=2
        )
        assert uncapped.count() > 0
        assert capped.count() == 0

    def test_knn_join_single_bucket_shuffle(self, spark, sf_dir):
        """knn_join's only wide exchanges are the bucket join + the top-k
        window — no stray repartitions sneaking in."""
        from etlutil_spark.operators.similarity import knn_join

        e = load_table(spark, "embeddings", sf_dir)
        left = e.selectExpr("vec_id as id_a", "embedding")
        right = e.selectExpr("vec_id as id_b", "embedding")
        out = knn_join(left, right, k=3, n_planes=4)
        out.collect()
        assert P.exchange_count(out) <= 4

    def test_sessionize_single_shuffle(self, spark, sf_dir):
        ev = load_table(spark, "events", sf_dir)
        out = session_stats(ev, "user_id", "ts")
        out.collect()
        # window + groupBy share the user_id hash partitioning: ONE shuffle
        assert P.exchange_count(out) == 1

    def test_docs_token_stats_shuffle_free(self, spark, sf_dir):
        from etlutil_spark.queries import QUERIES

        df = QUERIES["docs_token_stats"](spark, sf_dir)
        df.collect()
        # pure projection (+ optional round-robin spread): no hash shuffle
        assert P.exchange_count(df) <= 1
        P.assert_scan_pruned(df, {"doc_id", "text"})

    def test_sampling_queries_are_map_side(self, spark, sf_dir):
        """Hash sampling must stay a scan-level filter: zero exchanges."""
        from etlutil_spark.operators.sampling import deterministic_sample
        from etlutil_spark.sources.testdata import load_table

        d = load_table(spark, "documents", sf_dir)
        out = deterministic_sample(d, 0.3, "doc_id").select("doc_id")
        out.collect()
        assert P.exchange_count(out) == 0

    def test_packing_single_shuffle(self, spark, sf_dir):
        """Next-fit packing costs exactly one exchange (the group window);
        pack_stats reuses that partitioning for its aggregate."""
        from etlutil_spark.operators.packing import pack_by_token_budget, pack_stats
        from etlutil_spark.sources.testdata import load_table

        d = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
        out = pack_stats(
            pack_by_token_budget(d, 512, group_col="lang"), group_col="lang"
        )
        out.collect()
        assert P.exchange_count(out) == 1


class TestSkew:
    def test_salted_join_equals_plain_join(self, spark, sf_dir):
        from etlutil_spark.operators.skew import salted_join

        li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
        o = load_table(spark, "orders", sf_dir).select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
        )
        plain = li.join(o, ["l_orderkey"], "inner")
        salted = salted_join(li, o, ["l_orderkey"], n_salts=4)
        assert salted.count() == plain.count()
        a = {tuple(r) for r in salted.collect()}
        b = {tuple(r) for r in plain.collect()}
        assert a == b

    def test_salted_left_join_keeps_unmatched(self, spark):
        from etlutil_spark.operators.skew import salted_join

        f = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
        d = spark.createDataFrame([(1, "dim")], "k int, name string")
        got = salted_join(f, d, ["k"], n_salts=4, how="left").collect()
        by_k = {r.k: r.name for r in got}
        assert by_k == {1: "dim", 2: None}

    def test_salted_agg_explicit_combiners(self, spark):
        from etlutil_spark.operators.skew import salted_agg

        df = spark.createDataFrame(
            [("a", i) for i in range(10)] + [("b", 100)], "k string, v int"
        )
        got = {
            r.k: (r.n, r.total, r.lo, r.hi)
            for r in salted_agg(
                df,
                ["k"],
                {
                    "n": (F.count("*"), "sum"),
                    "total": (F.sum("v"), "sum"),
                    "lo": (F.min("v"), "min"),
                    "hi": (F.max("v"), "max"),
                },
                n_salts=4,
            ).collect()
        }
        assert got == {"a": (10, 45, 0, 9), "b": (1, 100, 100, 100)}

    def test_salted_agg_rejects_nonmergeable_combiner(self, spark):
        import pytest as _pytest

        from etlutil_spark.operators.skew import salted_agg

        df = spark.createDataFrame([("a", 1)], "k string, v int")
        with _pytest.raises(ValueError, match="avg"):
            salted_agg(df, ["k"], {"m": (F.avg("v"), "avg")})
        with _pytest.raises(TypeError, match="tuple"):
            salted_agg(df, ["k"], {"m": F.avg("v")})

    def test_salt_is_deterministic(self, spark):
        from etlutil_spark.operators.skew import with_salt

        df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k int, v string")
        a = {r.k: r._salt for r in with_salt(df, 8).collect()}
        b = {r.k: r._salt for r in with_salt(df, 8).collect()}
        assert a == b  # content-derived, reproducible on recompute
        assert all(0 <= s < 8 for s in a.values())
        assert len(set(a.values())) > 1  # actually spreads


class TestCompact:
    def test_latest_by_key_deterministic_tiebreak(self, spark):
        from etlutil_spark.operators.compact import latest_by_key

        rows = [
            (1, "2024-01-01", 10, "old"),
            (1, "2024-01-02", 11, "mid"),
            (1, "2024-01-02", 12, "new"),  # same date, higher id wins
            (2, "2024-01-01", 20, "only"),
        ]
        df = spark.createDataFrame(rows, "k bigint, d string, id bigint, v string")
        got = {
            r.k: r.v
            for r in latest_by_key(df, ["k"], "d", tie_break="id").collect()
        }
        assert got == {1: "new", 2: "only"}

    def test_latest_by_key_ascending(self, spark):
        from etlutil_spark.operators.compact import latest_by_key

        df = spark.createDataFrame(
            [(1, 5, "later"), (1, 3, "earliest")], "k bigint, ver bigint, v string"
        )
        got = latest_by_key(df, ["k"], "ver", descending=False).collect()
        assert got[0].v == "earliest"

    def test_top_k_per_group(self, spark):
        from etlutil_spark.operators.compact import top_k_per_group

        rows = [("g1", v) for v in ["a"] * 3 + ["b"] * 2 + ["c"]] + [
            ("g2", v) for v in ["x", "y"]
        ]
        df = spark.createDataFrame(rows, "g string, v string")
        got = {
            (r.g, r.rnk): (r.v, r.n)
            for r in top_k_per_group(df, ["g"], "v", 2).collect()
        }
        assert got == {
            ("g1", 1): ("a", 3),
            ("g1", 2): ("b", 2),
            ("g2", 1): ("x", 1),  # count tie -> value asc
            ("g2", 2): ("y", 1),
        }

    def test_top_k_validates_k(self, spark):
        import pytest as _pytest

        from etlutil_spark.operators.compact import top_k_per_group

        with _pytest.raises(ValueError):
            top_k_per_group(spark.range(1), ["id"], "id", 0)


class TestJsonIngestEndToEnd:
    """The reference's primary use case end-to-end: schemaless JSON records
    -> inferred schema -> whitelist-project-with-extras -> flatten ->
    type-normalize -> columnar-safe output (SURVEY §7.4 hard part #1)."""

    def test_dynamic_json_pipeline(self, spark, tmp_path):
        import json

        from etlutil_spark.operators.casts import convert_types
        from etlutil_spark.operators.flatten import flatten_struct
        from etlutil_spark.operators.project import select_with_extras
        from etlutil_spark.sources.io import read_json

        recs = [
            {"id": 1, "created_at": 1735056631, "user": {"name": "a", "city": "x"},
             "debug_blob": "zzz", "score": "3.5"},
            {"id": 2, "created_at": 1735056700, "user": {"name": "b"},
             "extra_field": [1, 2], "score": "4"},
        ]
        p = tmp_path / "in.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in recs))

        raw = read_json(spark, str(p))  # schema inferred per reference's dynamic model
        projected, moved = select_with_extras(
            raw, ["id", "created_at", "user", "score"]
        )
        assert set(moved) == {"debug_blob", "extra_field"}
        flat = flatten_struct(projected)
        typed = convert_types(
            flat, {"score": "float", "created_at": "timestamp"}
        )
        rows = {r.id: r for r in typed.collect()}
        assert rows[1].user__city == "x"
        assert rows[2].user__city is None
        assert abs(rows[1].score - 3.5) < 1e-9
        assert rows[1].created_at.year == 2024
        # extras survived as lossless JSON
        assert "zzz" in rows[1].extra_collected


class TestBucketedJoin:
    def test_cobucketed_join_has_no_shuffle(self, spark, sf_dir, tmp_path):
        from etlutil_spark.sources.io import write_bucketed

        spark.sql(
            f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/warehouse'"
        )
        try:
            li = load_table(spark, "lineitem", sf_dir).select(
                "l_orderkey", "l_quantity"
            )
            o = load_table(spark, "orders", sf_dir).select(
                "o_orderkey", "o_orderpriority"
            )
            write_bucketed(li, "bkt.li", bucket_by=["l_orderkey"], n_buckets=4)
            write_bucketed(o, "bkt.o", bucket_by=["o_orderkey"], n_buckets=4)

            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                joined = spark.table("bkt.li").join(
                    spark.table("bkt.o"),
                    F.col("l_orderkey") == F.col("o_orderkey"),
                )
                n = joined.count()
                assert n > 0
                # co-bucketed equi-join: sort-merge with ZERO shuffle
                # exchanges — the write-time distribution is reused
                assert P.exchange_count(joined) == 0
                assert P.broadcast_count(joined) == 0
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        finally:
            spark.sql("DROP DATABASE IF EXISTS bkt CASCADE")


class TestCatalogPlanGuards:
    """Catalog-wide scale invariant: no query may plan a cartesian product
    or a broadcast-nested-loop join unless it is the documented exact
    all-pairs baseline. Guards against a refactor silently turning a
    banded/bucketed join back into O(n^2)."""

    # exact all-pairs baselines by design (verification-scale only)
    ALLPAIRS_OK = {"baseline_dedup_embedding_pairs"}
    # crossJoin(broadcast(<1-row global-scalar aggregate>)) plans as a
    # BroadcastNestedLoopJoin of exactly one row — O(n), not O(n^2).
    # Still a loop-join node, so list explicitly rather than weakening
    # the quadratic guard for everyone.
    SCALAR_BNLJ_OK = {
        "docs_tfidf_topk",
        "docs_bm25_search",
        "lineitem_price_drift",
        "docs_token_drift",
        "q22_idle_customers",  # 1-row acctbal-threshold broadcast
        "events_type_affinity_daily",  # 1-row group-total broadcast
        "docs_negative_pairs",  # 1-row max-id broadcast
        "docs_lm_score",  # 1-row vocabulary broadcast
        "q11_important_stock",  # 1-row value-threshold broadcast
        "docs_contamination_bloom",  # 1-row bitset-array broadcast
        "events_user_skew_report",  # 1-row totals broadcast
        "lineitem_basket_rules",  # 1-row basket-count broadcast
        "lineitem_abc_classes",  # 1-row revenue-total broadcast
        "orders_km_survival",  # 1-row horizon-date broadcast
        "docs_hybrid_search_rrf",  # 1-row avgdl/n_docs broadcast (BM25 leg)
        "docs_hybrid_rerank",  # 1-row avgdl + bmax scalar broadcasts
        "docs_hybrid_serve",  # rank windows over <=40 store candidates
        "docs_retrieval_pipeline_serve",  # 1-row bmax broadcast
        "orders_l_diversity",  # 1-row totals broadcast
        "orders_t_closeness",  # 1-row N + totals broadcasts
        "audit_benford_totalprice",  # 1-row N broadcast
        "events_ks_test",  # 1-row totals broadcast over the value table
        "audit_doc_embedding_coverage",  # 1-row audit aggregates
        "parts_copurchase_triangles",  # 1-row census scalars crossJoined
        "docs_length_batching",  # 1-row waste scalars crossJoined
        "docs_theil_inequality",  # 1-row decomposition scalars crossJoined
        "orders_bootstrap_ci",  # 1-row CI-bound scalars crossJoined
        "lineitem_discount_did",  # 2x2 cell scalars crossJoined
            "events_cuped_adjusted",
        "parts_copurchase_kcore",
        "orders_k_anonymity",
        "docs_ccnet_buckets",
        "sketch_join_cardinality",
        "dedup_minhash_recall",
        "docs_pmi_collocations",
        # pair grid: the |source-pairs|-row (15) side is broadcast and
        # nested-looped against the Heaps'-law vocab — bounded small
        # side by construction, not a data-scale cartesian
        "docs_js_divergence_sources",
        # calendar-bounded day-pair loop: the broadcast side is the
        # <=365-row daily aggregate, fixed at ANY corpus scale — the
        # Theil-Sen pair stage is quadratic in DAYS, never in rows
        "lineitem_theilsen_drift",
        # four 1-row pair-count scalars crossJoined
        "dedup_agreement_ari",
        # 1-row corpus-total + weight-sum scalar broadcasts
        "docs_mixture_temperature",
        # five 1-row audit-gate scalars crossJoined
        "audit_release_gate",
        # |labels|^2 (10x10) centroid-pair loop — bounded by label
        # cardinality, never the corpus
        "embeddings_cluster_separation",
        # four 1-row corpus-card scalars crossJoined
        "docs_release_card",
        # 6-literal threshold grid broadcast against the pair table
        "dedup_threshold_sweep",
}

    def test_no_accidental_cartesian_joins(self, catalog_plans):
        offenders = {}
        for name, plan in catalog_plans.items():
            if name in self.ALLPAIRS_OK:
                continue
            ops = ("CartesianProduct", "BroadcastNestedLoopJoin")
            if name in self.SCALAR_BNLJ_OK:
                ops = ("CartesianProduct",)
            bad = [op for op in ops if op in plan]
            if bad:
                offenders[name] = bad
        assert not offenders, f"quadratic join shapes: {offenders}"
