"""Skew handling evidence: the composite range-partition key must spread
a hot timestamp / hot source across partitions (north_rule: 'explicit
salting for skewed sources')."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F


def test_global_sort_spreads_hot_timestamp(spark):
    """50% of rows share ONE timestamp (retry storm from one source);
    plain range partitioning on ts alone would pile them into one
    partition — the composite key (ts, ts_ns, source_order, source,
    doc_id, msg_no) must keep the max partition bounded."""
    from super_speedy_syslog_searcher_spark.operators.merge import global_sort, with_source_order

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = []
    for i in range(4000):
        hot = i % 2 == 0
        rows.append(
            (
                base if hot else base + timedelta(seconds=i),
                0,
                "hot.src" if hot else f"src{i % 7}",
                f"d{i:06d}",
                1,
            )
        )
    df = spark.createDataFrame(rows, "ts timestamp, ts_ns int, source string, doc_id string, msg_no int")
    merged = global_sort(with_source_order(df), num_partitions=8)
    sizes = merged.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    counts = [r["count"] for r in sizes]
    assert len(counts) >= 4  # hot key did not collapse everything
    assert max(counts) <= 0.5 * sum(counts)  # no partition holds the majority

    # and the global order is still exact
    head = merged.limit(10).collect()
    assert all(head[i]["ts"] <= head[i + 1]["ts"] for i in range(len(head) - 1))


def test_with_global_rank_pid_frozen_across_jobs(spark):
    """Regression for the AQE partition-id drift (the failure measured in
    tokens._with_stream_start and fixed there with localCheckpoint): the
    counts job and the rank job each re-execute the range exchange, and
    AQE may coalesce the exchange output differently per consuming job —
    spark_partition_id read in the two jobs then diverges and broadcast
    offsets land on the wrong partitions. Force the divergence-prone
    shape (many small range partitions, AQE on) and check the attached
    rank against the single-window reference."""
    from pyspark.sql.window import Window

    from super_speedy_syslog_searcher_spark.operators.merge import (
        SORT_KEYS,
        global_sort,
        with_global_rank,
        with_source_order,
    )

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        (
            base + timedelta(seconds=i % 13),
            (i * 7) % 3,
            f"src{i % 3}",
            f"d{i:05d}",
            i % 4,
        )
        for i in range(600)
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, ts_ns int, source string, doc_id string, msg_no int"
    )
    # many tiny partitions → AQE coalescing is active and job-dependent
    merged = global_sort(with_source_order(df), num_partitions=24)
    got = {
        (r["source"], r["doc_id"], r["msg_no"]): r["rank"]
        for r in with_global_rank(merged).collect()
    }
    w = Window.orderBy(*[F.col(k).asc_nulls_last() for k in SORT_KEYS])
    ref = {
        (r["source"], r["doc_id"], r["msg_no"]): r["rk"]
        for r in with_source_order(df)
        .withColumn("rk", F.row_number().over(w) - 1)
        .collect()
    }
    assert got == ref


def test_with_global_rank_empty_input(spark):
    """Zero-row input must yield a zero-row frame with the rank column,
    not an analysis error from an entry-less create_map (regression:
    hit via global_shuffle over a fully-sampled-away corpus)."""
    from super_speedy_syslog_searcher_spark.operators.merge import with_global_rank

    empty = spark.createDataFrame([], "k string, v long")
    out = with_global_rank(empty, keys=["k"], rank_col="r")
    assert out.count() == 0
    assert "r" in out.columns


def test_global_shuffle_empty_input(spark):
    from super_speedy_syslog_searcher_spark.operators.tokens import global_shuffle

    empty = spark.createDataFrame([], "doc_id string")
    assert global_shuffle(empty).count() == 0


def test_rejects_channels(spark):
    from super_speedy_syslog_searcher_spark.functions.codec import encode_text_udf
    from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused
    from super_speedy_syslog_searcher_spark.operators.rejects import (
        ERR_NO_SYSLINES,
        doc_rejects,
    )

    rows = [
        ("good", "s1", "2024-01-01 10:00:00 srv daemon: ok"),
        ("bad1", "s1", "no datetime here at all"),
        ("bad2", "s2", "still nothing to parse"),
    ]
    docs = (
        spark.createDataFrame(rows, "doc_id string, source string, text string")
        .withColumn("tokens", encode_text_udf("text"))
        .select("doc_id", "tokens", F.size("tokens").alias("n_tok"), "source")
    )
    msgs = parse_messages_fused(docs)
    rej = {r["doc_id"]: r["error_kind"] for r in doc_rejects(msgs, docs).collect()}
    assert rej == {"bad1": ERR_NO_SYSLINES, "bad2": ERR_NO_SYSLINES}


class TestClosureHotLabel:
    """VERDICT r3 #6: a giant duplicate cluster is ONE join key in the
    closure's jump step. Verify (a) a 100k-node hot cluster resolves
    correctly with the deterministic two-level pre-split (salt>0), (b)
    rounds stay O(log n) on a worst-case chain, (c) salted and unsalted
    paths agree."""

    def _components(self, spark, edges, **kw):
        from super_speedy_syslog_searcher_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(edges, "a long, b long")
        return connected_components(pairs, **kw)

    def test_mega_star_cluster_salted(self, spark):
        n = 100_000
        edges = [(0, i) for i in range(1, n)]  # one hub: hottest possible key
        stats = {}
        rows = self._components(spark, edges, salt=8, stats=stats).collect()
        assert len(rows) == n
        assert {r["cluster_id"] for r in rows} == {0}
        assert all(r["cluster_size"] == n for r in rows)
        assert stats["rounds"] <= 4  # star diameter 2: converges immediately

    def test_chain_rounds_logarithmic(self, spark):
        n = 4096  # worst-case diameter; plain propagation would need n rounds
        edges = [(i, i + 1) for i in range(n - 1)]
        stats = {}
        rows = self._components(spark, edges, salt=4, stats=stats).collect()
        assert {r["cluster_id"] for r in rows} == {0}
        # pointer jumping: O(log2 n) = 12 rounds + detection margin
        assert stats["rounds"] <= 16, stats

    def test_salted_equals_unsalted(self, spark):
        import random

        rng = random.Random(7)
        edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(400)]
        edges = [(a, b) for a, b in edges if a != b]
        plain = {(r["node"], r["cluster_id"]) for r in self._components(spark, edges).collect()}
        salted = {
            (r["node"], r["cluster_id"])
            for r in self._components(spark, edges, salt=8).collect()
        }
        assert plain == salted


class TestLshStarPairs:
    """lsh_candidate_pairs(pair_mode='star'): the mega-bucket fix — a
    web-scale near-duplicate cluster lands in the SAME bucket of every
    band, and all-pairs emission is O(bands·m²) from that one cluster.
    Star emission (member → bucket-min root) is O(m) per bucket and has
    the same transitive closure as the all-pairs clique."""

    def _docs(self, spark):
        # 3 near-dup families + unique docs: family text differs by a
        # 1-word suffix so members share most shingles (and therefore
        # most band buckets) without being byte-identical. Numeric ids —
        # the closure's fixed-point detection sums labels (same contract
        # as the documents table's bigint doc_id).
        rows = []
        base = [
            "alpha beta gamma delta epsilon zeta eta theta iota kappa",
            "one two three four five six seven eight nine ten eleven",
            "red orange yellow green blue indigo violet cyan magenta",
        ]
        did = 0
        for text in base:
            for i in range(12):
                rows.append((did, f"{text} v{i % 3}"))
                did += 1
        for i in range(10):
            rows.append((did, f"document {i} about topic{i} entirely unrelated {i*7} {i*13}"))
            did += 1
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_star_closure_equals_allpairs_closure(self, spark):
        from super_speedy_syslog_searcher_spark.operators.dedup import (
            connected_components,
            lsh_candidate_pairs,
        )

        docs = self._docs(spark)
        allp = lsh_candidate_pairs(docs, k=64, bands=16, pair_mode="all")
        star = lsh_candidate_pairs(docs, k=64, bands=16, pair_mode="star")
        c_all = {
            (r["node"], r["cluster_id"])
            for r in connected_components(allp, a_col="a", b_col="b").collect()
        }
        c_star = {
            (r["node"], r["cluster_id"])
            for r in connected_components(star, a_col="a", b_col="b").collect()
        }
        assert c_all == c_star and len(c_all) > 0

    def test_star_edges_linear_in_mega_cluster(self, spark):
        from super_speedy_syslog_searcher_spark.operators.dedup import lsh_candidate_pairs

        n = 3000  # identical docs: all-pairs would be ~4.5M pair rows
        docs = spark.createDataFrame(
            [(i, "the same boilerplate line repeated across the whole web corpus")
             for i in range(n)],
            "doc_id long, text string",
        )
        star = lsh_candidate_pairs(docs, k=64, bands=16, pair_mode="star")
        edges = star.count()
        assert edges == n - 1  # every member → the one root, once

    def test_bad_mode_rejected(self, spark):
        from super_speedy_syslog_searcher_spark.operators.dedup import lsh_candidate_pairs

        docs = spark.createDataFrame([("d0", "a b c d")], "doc_id string, text string")
        with pytest.raises(ValueError):
            lsh_candidate_pairs(docs, pair_mode="chain")

    def test_cluster_size_uses_partial_agg_not_window(self, spark):
        """The closure's final cluster_size attach must be a groupBy+join
        — a Window.partitionBy(cluster_id) would re-serialize a
        mega-cluster (the salted closure's whole reason to exist) into
        one task at the last step."""
        from super_speedy_syslog_searcher_spark.operators.dedup import (
            connected_components,
        )

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "a long, b long"
        )
        plan = (
            connected_components(pairs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan

    def test_star_roots_use_partial_agg_not_window(self, spark):
        """The root-per-bucket step must be a groupBy (map-side partial
        aggregation absorbs a mega-bucket; AQE skew-join can split the
        join back) — a Window.partitionBy(band, bucket) would hold the
        whole mega-bucket in ONE task and cannot be split."""
        from super_speedy_syslog_searcher_spark.operators.dedup import lsh_candidate_pairs

        docs = spark.createDataFrame(
            [(i, f"words {i % 7} overlap {i % 3} here") for i in range(30)],
            "doc_id long, text string",
        )
        plan = (
            lsh_candidate_pairs(docs, k=64, bands=16, pair_mode="star")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan
        assert "partial_min" in plan or "HashAggregate" in plan


class TestSelfJoinSingleUdf:
    """Plan regression for the double-ArrowEvalPython fix: the band
    self-joins must read the materialized (checkpointed) narrow table on
    BOTH sides instead of re-executing the hashing UDF and corpus scan
    per side."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [(i, f"some words here {i % 5} making shingles {i % 3} overlap")
             for i in range(40)],
            "doc_id long, text string",
        )

    def test_minhash_pairs_plan(self, spark):
        from super_speedy_syslog_searcher_spark.operators.dedup import lsh_candidate_pairs

        plan = (
            lsh_candidate_pairs(self._docs(spark), k=64, bands=16)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # the UDF runs once, inside the checkpoint materialization job —
        # the pair-join plan itself re-executes nothing
        assert "ArrowEvalPython" not in plan, plan
        assert plan.count("Scan ExistingRDD") == 2, plan

    def test_simhash_pairs_plan(self, spark):
        from super_speedy_syslog_searcher_spark.operators.dedup import simhash_pairs

        plan = (
            simhash_pairs(self._docs(spark))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "ArrowEvalPython" not in plan, plan
        assert plan.count("Scan ExistingRDD") == 2, plan
