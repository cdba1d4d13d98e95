"""Corpus-curation operators: PII scrub, stratified sampling, URL stats,
exact quantiles, winnow-overlap dedup (operators/curation.py)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark.operators.curation import (
    decontaminate,
    drop_boilerplate_lines,
    dsir_weights,
    hash_bucket,
    length_quantiles,
    pii_scrub,
    repetition_stats,
    stratified_sample,
    url_domain_stats,
    winnow_overlap_pairs,
)
from super_speedy_syslog_searcher_spark.operators.textstats import winnow_fingerprints


class TestPiiScrub:
    def test_counts_and_redaction(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail a@b.co and c.d+x@e.org from 10.0.0.1 call 555-1234"),
                (2, "no pii here"),
                (3, "ip 192.168.1.255 twice 192.168.1.254"),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
        assert (rows[1]["n_email"], rows[1]["n_ip"], rows[1]["n_phone"]) == (2, 1, 1)
        assert rows[1]["scrubbed"] == "mail <EMAIL> and <EMAIL> from <IP> call <PHONE>"
        assert (rows[2]["n_email"], rows[2]["n_ip"], rows[2]["n_phone"]) == (0, 0, 0)
        assert rows[2]["scrubbed"] == "no pii here"
        assert rows[3]["n_ip"] == 2 and rows[3]["scrubbed"].count("<IP>") == 2

    def test_replacement_order_no_remfatch(self, spark):
        # the <EMAIL>/<IP> tokens contain no digits/@ so later passes
        # cannot re-match earlier passes' output
        df = spark.createDataFrame([(1, "x 1.2.3.4@a.bc y")], "doc_id long, text string")
        r = pii_scrub(df).collect()[0]
        assert "<PHONE" not in r["scrubbed"].replace("<PHONE>", "")
        assert "@" not in r["scrubbed"]


class TestStratifiedSample:
    def test_deterministic_and_bounded(self, spark):
        df = spark.range(2000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        )
        out1 = stratified_sample(df, {"en": 30, "de": 70}, id_col="doc_id").collect()
        out2 = stratified_sample(df, {"en": 30, "de": 70}, id_col="doc_id").collect()
        assert sorted(r["doc_id"] for r in out1) == sorted(r["doc_id"] for r in out2)
        for r in out1:
            assert r["bucket"] < r["rate"]
        by_lang = {}
        for r in out1:
            by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
        # md5 buckets are uniform: 1000 docs/stratum keeps ~rate% ±10pp
        assert abs(by_lang["en"] / 1000 - 0.30) < 0.10
        assert abs(by_lang["de"] / 1000 - 0.70) < 0.10

    def test_default_rate_drops_unknown_strata(self, spark):
        df = spark.range(100).select(F.col("id").alias("doc_id"), F.lit("xx").alias("lang"))
        assert stratified_sample(df, {"en": 50}, id_col="doc_id").count() == 0

    def test_bucket_matches_duckdb_twin(self, spark):
        import duckdb

        ids = list(range(50))
        got = {
            r["doc_id"]: r["bucket"]
            for r in spark.createDataFrame([(i,) for i in ids], "doc_id long")
            .select("doc_id", hash_bucket(F.col("doc_id")))
            .collect()
        }
        want = dict(
            duckdb.sql(
                "SELECT i, CAST('0x'||substr(md5(CAST(i AS VARCHAR)),1,8) AS BIGINT) % 100 "
                "FROM range(50) t(i)"
            ).fetchall()
        )
        assert got == want


class TestUrlDomainStats:
    def test_explode_and_group(self, spark):
        df = spark.createDataFrame(
            [
                (1, "see https://a.com/x and http://b.org/y"),
                (2, "again https://a.com/z"),
                (3, "https://a.com/1 https://a.com/2"),
                (4, "no urls"),
            ],
            "doc_id long, text string",
        )
        rows = {r["domain"]: r for r in url_domain_stats(df).collect()}
        assert rows["a.com"]["n_urls"] == 4 and rows["a.com"]["n_docs"] == 3
        assert rows["b.org"]["n_urls"] == 1 and rows["b.org"]["n_docs"] == 1
        assert set(rows) == {"a.com", "b.org"}


class TestLengthQuantiles:
    def test_exact_definition(self, spark):
        # stratum s: values 1..10 → p50 = smallest v with cum*100 >= 50*10 → 5
        df = spark.createDataFrame(
            [("s", v) for v in range(1, 11)] + [("t", 7)] * 4,
            "source string, n_chars long",
        )
        rows = {r["source"]: r for r in length_quantiles(df).collect()}
        assert (rows["s"]["p50"], rows["s"]["p90"], rows["s"]["p99"]) == (5, 9, 10)
        assert rows["s"]["n_docs"] == 10
        assert (rows["t"]["p50"], rows["t"]["p99"], rows["t"]["n_docs"]) == (7, 7, 4)

    def test_histogram_collapses_before_window(self, spark):
        # duplicate-heavy input: the windowed table is bounded by distinct
        # values, not rows
        df = spark.createDataFrame(
            [("s", v % 3) for v in range(3000)], "source string, n_chars long"
        )
        plan = length_quantiles(df)._jdf.queryExecution().executedPlan().toString()
        # the partial aggregate must sit below the window
        assert plan.index("HashAggregate") > plan.index("Window") or "Window" in plan
        r = length_quantiles(df).collect()[0]
        assert (r["p50"], r["p90"], r["p99"]) == (1, 2, 2)


def _gopher_ref(text):
    """Pure-python reference for repetition_stats."""
    words = [w for w in text.split(" ") if w]
    n_chars = len(text)

    def counts(n):
        c = {}
        for i in range(len(words) - n + 1):
            g = " ".join(words[i : i + n])
            c[g] = c.get(g, 0) + 1
        return c

    c1, c2, c3, c5 = counts(1), counts(2), counts(3), counts(5)

    def top(c):
        # Gopher: coverage of the MOST FREQUENT gram; tie -> longer gram
        if not c:
            return 0
        cnt, ln = max((cnt, len(g)) for g, cnt in c.items())
        return cnt * ln

    dup = sum(cnt * len(g) for g, cnt in c5.items() if cnt > 1)
    return {
        "n_words": len(words),
        "dup_word_frac": round((len(words) - len(c1)) / len(words), 4),
        "top2gram_frac": round(top(c2) / n_chars, 4),
        "top3gram_frac": round(top(c3) / n_chars, 4),
        "dup5gram_frac": round(dup / n_chars, 4),
    }


class TestRepetitionStats:
    def test_matches_python_reference(self, spark):
        texts = [
            "a b a b a b",
            "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp qq rr ss tt",
            "spam spam spam spam spam spam eggs spam spam spam spam spam",
            "the cat sat on the mat the cat sat on the mat again",
            # distinguishes the Gopher definition from max-coverage: the
            # long bigram (cnt 2, len 19) would win on coverage, but the
            # MOST FREQUENT bigram is "a b" (cnt 3, len 3)
            "longword1 longword2 longword1 longword2 a b a b a b",
        ]
        df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
        for i, t in enumerate(texts):
            want = _gopher_ref(t)
            for k, v in want.items():
                assert got[i][k] == v, (i, k, got[i][k], v)

    def test_repetitive_doc_dropped_unique_kept(self, spark):
        df = spark.createDataFrame(
            [
                (1, "spam ham spam ham spam ham spam ham spam ham spam ham"),
                (2, "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp qq rr ss tt"),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r["keep"] for r in repetition_stats(df).collect()}
        assert rows == {1: 0, 2: 1}

    def test_empty_and_short_docs(self, spark):
        # docs with zero words disappear; docs shorter than an order
        # produce 0.0 for that order's fraction
        df = spark.createDataFrame(
            [(1, "   "), (2, "solo"), (3, "two words")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
        assert set(rows) == {2, 3}
        assert rows[2]["top2gram_frac"] == 0.0
        assert rows[3]["dup5gram_frac"] == 0.0


class TestDropBoilerplateLines:
    def test_shared_footer_removed(self, spark):
        df = spark.createDataFrame(
            [
                ("a", "line a1\nFOOTER\nline a2"),
                ("b", "line b1\nFOOTER"),
                ("c", "FOOTER\nline c1"),
                ("d", "FOOTER"),
            ],
            "doc_id string, text string",
        )
        rows = {r["doc_id"]: r for r in drop_boilerplate_lines(df, max_docs=2).collect()}
        assert rows["a"]["clean_text"] == "line a1\nline a2"
        assert (rows["a"]["n_lines"], rows["a"]["n_removed"]) == (3, 1)
        assert rows["b"]["clean_text"] == "line b1"
        assert rows["c"]["clean_text"] == "line c1"
        assert rows["d"]["clean_text"] == "" and rows["d"]["n_removed"] == 1

    def test_threshold_boundary_inclusive(self, spark):
        # a line in exactly max_docs docs is kept
        df = spark.createDataFrame(
            [("a", "SHARED\nx"), ("b", "SHARED\ny")], "doc_id string, text string"
        )
        rows = {r["doc_id"]: r for r in drop_boilerplate_lines(df, max_docs=2).collect()}
        assert rows["a"]["clean_text"] == "SHARED\nx"
        assert rows["b"]["n_removed"] == 0

    def test_order_preserved_after_removal(self, spark):
        df = spark.createDataFrame(
            [("a", "z9\nBOIL\nz1\nBOIL\nz5"), ("b", "BOIL"), ("c", "BOIL")],
            "doc_id string, text string",
        )
        rows = {r["doc_id"]: r for r in drop_boilerplate_lines(df, max_docs=2).collect()}
        assert rows["a"]["clean_text"] == "z9\nz1\nz5"
        assert rows["a"]["n_removed"] == 2


class TestWinnowOverlap:
    def _fps(self, spark, rows):
        df = spark.createDataFrame(rows, "doc_id string, text string")
        return winnow_fingerprints(df)

    def test_shared_chunk_found(self, spark):
        shared = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            ("a", "prefix one " + shared),
            ("b", shared + " suffix two"),
            ("c", "completely different content with no overlap at all here"),
        ]
        pairs = winnow_overlap_pairs(self._fps(spark, rows), min_shared=3, max_df=10).collect()
        assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [("a", "b")]
        assert pairs[0]["n_shared"] >= 3

    def test_max_df_kills_boilerplate(self, spark):
        boiler = "this exact boilerplate footer appears on every single page"
        rows = [(f"d{i}", boiler) for i in range(6)]
        # identical docs: every fingerprint has df=6 > max_df=5 → all dropped
        fps = self._fps(spark, rows)
        assert winnow_overlap_pairs(fps, min_shared=1, max_df=5).collect() == []
        # raising the cap to 6 restores all 15 pairs
        assert winnow_overlap_pairs(fps, min_shared=1, max_df=6).count() == 15

    def test_df_cap_uses_partial_agg_not_window(self, spark):
        """The max_df boilerplate guard must be a groupBy+join — a
        window count over fp would hold a hot fingerprint's every copy
        in one task (the single-task hotspot shape)."""
        rows = [(f"d{i}", [1, 2, i]) for i in range(12)]
        plan = (
            winnow_overlap_pairs(self._fps(spark, rows), min_shared=1, max_df=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan

    def test_no_gram_hash_inlining_under_join(self, spark):
        """Regression: CollapseProject must not inline the gram-hash
        transform into the per-window array_min (O(L²) md5s per doc —
        measured 6 s → 266 s on a 27k-fingerprint corpus)."""
        df = spark.createDataFrame(
            [(str(i), f"document number {i} with some shared content") for i in range(20)],
            "doc_id string, text string",
        )
        plan = (
            winnow_overlap_pairs(winnow_fingerprints(df), min_shared=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert not re.search(r"array_min\(slice\(CASE WHEN", plan)


class TestDecontaminate:
    W = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly one 8-gram

    def _run(self, spark, docs, bench, **kw):
        d = spark.createDataFrame(docs, "doc_id string, text string")
        b = spark.createDataFrame(bench, "bench_id string, text string")
        return {r["doc_id"]: r for r in decontaminate(d, b, **kw).collect()}

    def test_hit_and_miss(self, spark):
        rows = self._run(
            spark,
            [("d1", self.W + " tail"), ("d2", "a b c d e f g h")],
            [("b1", self.W)],
        )
        assert rows["d1"]["contaminated"] == 1
        assert rows["d1"]["n_hit_grams"] == 1
        assert rows["d1"]["n_bench_hits"] == 1
        assert rows["d2"]["contaminated"] == 0
        assert rows["d2"]["n_hit_grams"] == 0
        # every doc appears exactly once, clean or not
        assert sorted(rows) == ["d1", "d2"]

    def test_multiple_bench_hits_counted_distinct(self, spark):
        rows = self._run(
            spark,
            [("d1", self.W)],
            [("b1", self.W), ("b2", self.W + " extra")],
        )
        assert rows["d1"]["n_bench_hits"] == 2
        assert rows["d1"]["n_hit_grams"] == 1

    def test_short_doc_has_zero_grams(self, spark):
        rows = self._run(spark, [("d1", "only three words")], [("b1", self.W)])
        assert rows["d1"]["n_grams"] == 0
        assert rows["d1"]["contaminated"] == 0

    def test_min_hits_threshold(self, spark):
        text = self.W + " w9"  # two 8-grams, both in the bench doc
        rows = self._run(spark, [("d1", text)], [("b1", text)], min_hits=3)
        assert rows["d1"]["n_hit_grams"] == 2
        assert rows["d1"]["contaminated"] == 0

    def test_bench_side_is_broadcast(self, spark):
        d = spark.createDataFrame([("d1", self.W)], "doc_id string, text string")
        b = spark.createDataFrame([("b1", self.W)], "bench_id string, text string")
        plan = decontaminate(d, b)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestDsirWeights:
    def _run(self, spark, docs, target_lang="tgt", **kw):
        df = spark.createDataFrame(docs, "doc_id string, lang string, text string")
        out = dsir_weights(df, F.col("lang") == target_lang, **kw)
        return {r["doc_id"]: r for r in out.collect()}

    def test_target_like_docs_score_higher(self, spark):
        docs = [
            ("t1", "tgt", "alpha beta gamma alpha beta"),
            ("t2", "tgt", "alpha gamma beta beta alpha"),
            ("s1", "oth", "delta epsilon zeta delta zeta"),
            ("s2", "oth", "epsilon zeta delta epsilon"),
            ("q_target_like", "oth", "alpha beta gamma"),
            ("q_source_like", "oth", "delta epsilon zeta"),
        ]
        rows = self._run(spark, docs)
        assert rows["q_target_like"]["dsir_weight"] > rows["q_source_like"]["dsir_weight"]
        assert rows["q_target_like"]["n_words"] == 3

    def test_empty_doc_produces_no_row(self, spark):
        rows = self._run(spark, [("a", "tgt", "x y"), ("e", "oth", "")])
        assert sorted(rows) == ["a"]

    def test_matches_python_reference(self, spark):
        import hashlib
        import math

        docs = [
            ("d1", "tgt", "aa bb cc"),
            ("d2", "oth", "aa dd dd ee"),
            ("d3", "oth", "bb cc ff"),
        ]
        B = 64

        def bucket(w):
            return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % B

        c_s, c_t = {}, {}
        for _, lang, text in docs:
            for w in text.split():
                b = bucket(w)
                c_s[b] = c_s.get(b, 0) + 1
                if lang == "tgt":
                    c_t[b] = c_t.get(b, 0) + 1
        n_s, n_t = sum(c_s.values()), sum(c_t.values())

        def lr(b):
            return math.log((c_t.get(b, 0) + 1) / (n_t + B)) - math.log(
                (c_s.get(b, 0) + 1) / (n_s + B)
            )

        rows = self._run(spark, docs, n_buckets=B)
        for doc_id, _, text in docs:
            ws = text.split()
            want = round(sum(lr(bucket(w)) for w in ws) / len(ws), 4)
            assert rows[doc_id]["dsir_weight"] == want, doc_id

    def test_score_join_is_broadcast(self, spark):
        df = spark.createDataFrame(
            [("d1", "tgt", "a b"), ("d2", "oth", "b c")],
            "doc_id string, lang string, text string",
        )
        plan = (
            dsir_weights(df, F.col("lang") == "tgt")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan


class TestQualityClassifier:
    """quality_classifier_score — hashed-linear classifier inference."""

    def _weights(self, spark, mapping):
        return spark.createDataFrame(
            [(int(b), float(w)) for b, w in mapping.items()], "b int, weight double"
        )

    def _run(self, spark, docs, weights, **kw):
        from super_speedy_syslog_searcher_spark.operators.curation import (
            quality_classifier_score,
        )

        df = spark.createDataFrame(docs, "doc_id string, text string")
        out = quality_classifier_score(df, weights, **kw)
        return {r["doc_id"]: r for r in out.collect()}

    def test_matches_python_reference(self, spark):
        import hashlib

        B = 64
        docs = [
            ("d1", "aa bb cc"),
            ("d2", "aa dd dd ee aa"),
            ("d3", "bb cc ff zz"),
        ]

        def bucket(w):
            return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % B

        wmap = {b: float((b * 7) % 11 - 5) for b in range(B)}
        rows = self._run(spark, docs, self._weights(spark, wmap), n_buckets=B)
        for doc_id, text in docs:
            ws = text.split()
            logit = round(sum(wmap[bucket(w)] for w in ws) / len(ws), 4)
            score = round(1.0 / (1.0 + __import__("math").exp(-logit)), 4)
            assert rows[doc_id]["clf_logit"] == logit, doc_id
            assert rows[doc_id]["clf_score"] == score, doc_id
            assert rows[doc_id]["clf_keep"] == int(logit > 0), doc_id
            assert rows[doc_id]["n_words"] == len(ws)

    def test_bias_shifts_logit(self, spark):
        w = self._weights(spark, {b: 0.0 for b in range(8)})
        rows = self._run(spark, [("d", "x y")], w, n_buckets=8, bias=2.5)
        assert rows["d"]["clf_logit"] == 2.5
        assert rows["d"]["clf_keep"] == 1

    def test_sparse_weights_default_zero(self, spark):
        # weights table covers NO bucket → every word contributes 0
        w = self._weights(spark, {})
        rows = self._run(spark, [("d", "some words here")], w, n_buckets=8)
        assert rows["d"]["clf_logit"] == 0.0
        assert rows["d"]["clf_score"] == 0.5
        assert rows["d"]["clf_keep"] == 0

    def test_empty_doc_produces_no_row(self, spark):
        w = self._weights(spark, {0: 1.0})
        rows = self._run(spark, [("a", "x"), ("e", "")], w, n_buckets=8)
        assert sorted(rows) == ["a"]

    def test_weight_join_is_broadcast(self, spark):
        from super_speedy_syslog_searcher_spark.operators.curation import (
            quality_classifier_score,
        )

        df = spark.createDataFrame([("d1", "a b"), ("d2", "b c")], "doc_id string, text string")
        plan = (
            quality_classifier_score(df, self._weights(spark, {0: 1.0}))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan


class TestCurationEdgeCases:
    def test_decontaminate_empty_bench_keeps_everything(self, spark):
        d = spark.createDataFrame(
            [("d1", "a b c d e f g h i")], "doc_id string, text string"
        )
        b = spark.createDataFrame([], "bench_id string, text string")
        rows = decontaminate(d, b).collect()
        assert len(rows) == 1
        assert rows[0]["contaminated"] == 0 and rows[0]["n_hit_grams"] == 0

    def test_dsir_no_target_docs_is_uniform(self, spark):
        # empty target: c_t = 0 everywhere → lr differs only through c_s,
        # and docs over equally-common words score equally
        df = spark.createDataFrame(
            [("a", "x", "w1 w2"), ("b", "x", "w3 w4")],
            "doc_id string, lang string, text string",
        )
        rows = {r["doc_id"]: r["dsir_weight"] for r in
                dsir_weights(df, F.col("lang") == "nope", n_buckets=64).collect()}
        assert rows["a"] == rows["b"]


class TestDecontaminateSpans:
    W = "w1 w2 w3 w4 w5 w6 w7 w8"  # one 8-gram

    def _run(self, spark, docs, bench, **kw):
        d = spark.createDataFrame(docs, "doc_id string, text string")
        b = spark.createDataFrame(bench, "bench_id string, text string")
        from super_speedy_syslog_searcher_spark.operators.curation import decontaminate_spans

        return {r["doc_id"]: r for r in decontaminate_spans(d, b, **kw).collect()}

    def test_masks_only_the_overlap(self, spark):
        rows = self._run(
            spark,
            [("d1", "pre " + self.W + " post"), ("d2", "a b c d e f g h")],
            [("b1", self.W)],
        )
        assert rows["d1"]["clean_text"] == "pre " + " ".join(["<MASKED>"] * 8) + " post"
        assert rows["d1"]["n_masked_words"] == 8
        assert rows["d1"]["n_words"] == 10
        assert rows["d2"]["clean_text"] == "a b c d e f g h"
        assert rows["d2"]["n_masked_words"] == 0

    def test_overlapping_hits_union_their_spans(self, spark):
        # two hit grams starting at 0 and 1 → words 0..8 masked (9 words)
        text = self.W + " w9 tail"
        rows = self._run(spark, [("d1", text)], [("b1", self.W + " w9")])
        assert rows["d1"]["n_masked_words"] == 9
        assert rows["d1"]["clean_text"].endswith(" tail")

    def test_short_doc_untouched(self, spark):
        rows = self._run(spark, [("d1", "just a few words")], [("b1", self.W)])
        assert rows["d1"]["clean_text"] == "just a few words"
        assert rows["d1"]["n_masked_words"] == 0


class TestLeakageSafeSplits:
    """Cluster-aware split assignment (curation.leakage_safe_splits)."""

    def _cc(self, spark):
        # 3 clusters of varying size + singletons (cluster = own id)
        rows = []
        for cid, members in [(1, [1, 2, 3]), (10, [10, 11]), (20, [20, 21, 22, 23])]:
            rows += [(m, cid) for m in members]
        rows += [(m, m) for m in range(100, 160)]
        return spark.createDataFrame(rows, "node long, cluster_id long")

    def test_cluster_members_never_straddle_splits(self, spark):
        from super_speedy_syslog_searcher_spark.operators.curation import (
            leakage_safe_splits,
        )

        out = leakage_safe_splits(self._cc(spark)).collect()
        by_cluster = {}
        for r in out:
            by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
        assert all(len(s) == 1 for s in by_cluster.values())

    def test_matches_md5_twin_and_is_deterministic(self, spark):
        import hashlib

        from super_speedy_syslog_searcher_spark.operators.curation import (
            leakage_safe_splits,
        )

        def want(cid):
            b = int(hashlib.md5(f"split:{cid}".encode()).hexdigest()[:8], 16) % 100
            return "train" if b < 98 else ("valid" if b < 99 else "test")

        df = self._cc(spark)
        got1 = {r["node"]: r["split"] for r in leakage_safe_splits(df).collect()}
        got2 = {r["node"]: r["split"] for r in leakage_safe_splits(df).collect()}
        assert got1 == got2
        exp = {r["node"]: want(r["cluster_id"]) for r in df.collect()}
        assert got1 == exp
        assert set(got1.values()) >= {"train"}  # 98% weight must appear

    def test_weights_must_sum_to_buckets(self, spark):
        import pytest as _pytest

        from super_speedy_syslog_searcher_spark.operators.curation import (
            leakage_safe_splits,
        )

        with _pytest.raises(ValueError):
            leakage_safe_splits(self._cc(spark), splits=(("train", 50), ("test", 1)))

    def test_map_only_no_exchange(self, spark):
        from super_speedy_syslog_searcher_spark.operators.curation import (
            leakage_safe_splits,
        )

        plan = (
            leakage_safe_splits(self._cc(spark))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan

    def test_null_cluster_key_raises_without_id_col(self, spark):
        import pytest as _pytest

        from super_speedy_syslog_searcher_spark.operators.curation import (
            leakage_safe_splits,
        )

        df = spark.createDataFrame(
            [(1, None), (2, 7)], "node long, cluster_id long"
        )
        with _pytest.raises(Exception, match="NULL cluster key"):
            leakage_safe_splits(df).collect()

    def test_id_col_fallback_makes_singletons(self, spark):
        import hashlib

        from super_speedy_syslog_searcher_spark.operators.curation import (
            leakage_safe_splits,
        )

        df = spark.createDataFrame(
            [(1, None), (2, 7), (3, None)], "node long, cluster_id long"
        )
        got = {
            r["node"]: r["split"]
            for r in leakage_safe_splits(df, id_col="node").collect()
        }

        def want(key):
            b = int(hashlib.md5(f"split:{key}".encode()).hexdigest()[:8], 16) % 100
            return "train" if b < 98 else ("valid" if b < 99 else "test")

        assert got == {1: want(1), 2: want(7), 3: want(3)}


class TestGopherQualityStats:
    """Gopher quality rules (Rae et al. 2021, Table A1)."""

    def _run(self, spark, docs):
        from super_speedy_syslog_searcher_spark.operators.curation import (
            gopher_quality_stats,
        )

        df = spark.createDataFrame(docs, "doc_id string, text string")
        return {r["doc_id"]: r.asDict() for r in gopher_quality_stats(df).collect()}

    def test_values_match_python_twin(self, spark):
        import re

        good = " ".join(
            ["the quick brown fox jumps over and that have with lazy dog today"] * 5
        )
        docs = [
            ("good", good),
            ("bullets", "\n".join(["- item one here"] * 9 + ["closing line words"])),
            ("symbols", "word " * 20 + "# # # # # ... … rest"),
            ("empty", ""),
            ("noalpha", "123 456 789 000 111"),
            ("ellipsis", "first line...\nsecond…\nthird stays here"),
        ]
        got = self._run(spark, docs)
        stop = {"the", "be", "to", "of", "and", "that", "have", "with"}
        for doc_id, text in docs:
            words = [w for w in text.split(" ") if w]
            lines = text.split("\n")
            nw, nl = len(words), len(lines)
            r = got[doc_id]
            assert r["n_words"] == nw
            if nw:
                assert r["mean_word_len"] == round(sum(map(len, words)) / nw, 4)
                n_sym = (
                    text.count("#")
                    + (len(text) - len(text.replace("...", ""))) // 3
                    + text.count("…")
                )
                assert r["symbol_word_ratio"] == round(n_sym / nw, 4)
                assert r["alpha_word_frac"] == round(
                    sum(1 for w in words if re.search("[A-Za-z]", w)) / nw, 4
                )
            else:
                assert r["mean_word_len"] is None
            assert r["bullet_line_frac"] == round(
                sum(1 for l in lines if l[:1] in tuple("•‣▪-*")) / nl, 4
            )
            assert r["ellipsis_line_frac"] == round(
                sum(1 for l in lines if l.endswith("...") or l.endswith("…")) / nl, 4
            )
            assert r["stop_hits"] == len(stop & {w.lower() for w in words})
        assert got["good"]["gopher_pass"] == 1
        assert {d: got[d]["gopher_pass"] for d in
                ("bullets", "symbols", "empty", "noalpha")} == dict.fromkeys(
                    ("bullets", "symbols", "empty", "noalpha"), 0)

    def test_map_only_no_python_no_exchange(self, spark):
        from super_speedy_syslog_searcher_spark.operators.curation import (
            gopher_quality_stats,
        )

        df = spark.createDataFrame([("a", "x y z")], "doc_id string, text string")
        plan = (
            gopher_quality_stats(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "Python" not in plan


class TestExtractHtmlText:
    def _run(self, spark, html):
        from super_speedy_syslog_searcher_spark.operators.curation import extract_html_text

        df = spark.createDataFrame([(1, html)], "doc_id long, html string")
        return extract_html_text(df).collect()[0]

    def test_full_page(self, spark):
        r = self._run(
            spark,
            "<html><head><style>p{x:1}</style><script>if(1<2){a();}</script></head>"
            "<body><!-- chrome --><h1>Title</h1><p>alpha beta</p><p>gamma</p>"
            "<div>&amp;copy; &lt;Corp&gt;&nbsp;end</div></body></html>",
        )
        assert r["text"] == "Title\nalpha beta\ngamma\n&copy; <Corp> end"
        assert r["n_chars_text"] == len(r["text"])
        assert 0 < r["text_density"] < 1

    def test_script_dropped_before_tag_strip(self, spark):
        # the '<' inside the script body must not survive as a bogus tag
        r = self._run(spark, "<script>var x = 1 < 2;</script><p>keep</p>")
        assert r["text"] == "keep"

    def test_case_insensitive_and_br(self, spark):
        # adjacent breaks (</P> then <BR/>) leave one empty line — only
        # runs of 3+ newlines collapse to a paragraph gap
        r = self._run(spark, '<P CLASS="x">one</P><BR/>two<br />three')
        assert r["text"] == "one\n\ntwo\nthree"

    def test_entity_order_amp_last(self, spark):
        # '&amp;lt;' is the ESCAPED '&lt;' — one decode pass must yield
        # the literal string '&lt;', never '<'
        r = self._run(spark, "<p>&amp;lt; and &lt;</p>")
        assert r["text"] == "&lt; and <"

    def test_whitespace_canon(self, spark):
        r = self._run(spark, "<p>a  \t b</p><p></p><p></p><p>c</p>")
        assert r["text"] == "a b\n\nc"

    def test_no_html_passthrough(self, spark):
        r = self._run(spark, "plain text only")
        assert r["text"] == "plain text only"
        assert r["text_density"] == 1.0

    def test_empty(self, spark):
        r = self._run(spark, "")
        assert r["text"] == "" and r["text_density"] == 0.0


class TestNormalizeText:
    def _run(self, spark, text, **kw):
        from super_speedy_syslog_searcher_spark.operators.curation import normalize_text

        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return normalize_text(df, **kw).collect()[0]

    def test_nfc_composes(self, spark):
        import unicodedata

        raw = "café Ångström"
        r = self._run(spark, raw)
        assert r["norm_text"] == unicodedata.normalize("NFC", raw)
        assert r["changed"] == 1
        assert r["n_chars_norm"] < r["n_chars_raw"]

    def test_control_strip_keeps_tab_newline(self, spark):
        r = self._run(spark, "abc\td\nef")
        # BEL and the C1 char are stripped; tab joins the space collapse?
        # no — tab is KEPT by CONTROL_RE and not in HSPACE_RE's class
        assert r["norm_text"] == "abc\td\nef"

    def test_nbsp_and_space_collapse(self, spark):
        r = self._run(spark, "  x y  z  ")
        assert r["norm_text"] == "x y z"
        assert r["changed"] == 1

    def test_unchanged_flag(self, spark):
        r = self._run(spark, "already clean")
        assert r["norm_text"] == "already clean" and r["changed"] == 0

    def test_mojibake_repair(self, spark):
        # 'café' (caf\xe9) mis-decoded as latin-1 shows as 'caf\xc3\xa9'
        broken = "cafÃ© ok"
        r = self._run(spark, broken, fix_mojibake=True)
        assert r["norm_text"] == "café ok"
        # without the flag the mojibake survives (post-NFC)
        r2 = self._run(spark, broken, fix_mojibake=False)
        assert "Ã" in r2["norm_text"]

    def test_mojibake_invalid_roundtrip_kept(self, spark):
        # the hint matches but the latin-1 bytes are NOT valid utf-8
        # (\xc3 followed by a non-continuation byte) -> text unchanged
        s = "xÃÃy ok"
        r = self._run(spark, s, fix_mojibake=True)
        assert r["norm_text"] == "xÃÃy ok"

    def test_python_twin(self, spark):
        import re
        import unicodedata

        from super_speedy_syslog_searcher_spark.operators.curation import normalize_text

        texts = [
            "café latte",
            "Ångström unit",
            "mix    gaps\tandctl",
            "plain ascii",
            "trailing space \n",
            "  lead and trail  ",
            "",
        ]

        def ref(s):
            t = unicodedata.normalize("NFC", s)
            t = re.sub("[\\x00-\\x08\\x0b-\\x1f\\x7f-\\x9f]", "", t)
            t = re.sub("[  ]+", " ", t)
            # \\Z = python's end-of-text anchor, the re twin of Java/RE2 \\z
            return re.sub("^ +| +\\Z", "", t)

        df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        got = {r["doc_id"]: r["norm_text"] for r in normalize_text(df).collect()}
        for i, s in enumerate(texts):
            assert got[i] == ref(s), (i, got[i], ref(s))


class TestNgramNovelty:
    def _run(self, spark, texts, n=3):
        from super_speedy_syslog_searcher_spark.operators.curation import ngram_novelty

        df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        return {r["doc_id"]: r for r in ngram_novelty(df, n=n).collect()}

    def test_python_reference(self, spark):
        texts = [
            "a b c d e f",
            "a b c d e f",          # exact copy of 0 -> zero novelty
            "x y z w v u t",        # unique -> full novelty
            "a b c q r s",          # shares the 'a b c' gram context? (n=3)
            "",
            "one two",              # shorter than n -> no grams
        ]
        got = self._run(spark, texts, n=3)

        def grams(t, n=3):
            ws = [w for w in t.split(" ") if w]
            return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}

        from collections import Counter

        df_cnt = Counter()
        per_doc = [grams(t) for t in texts]
        for gs in per_doc:
            df_cnt.update(gs)
        for i, gs in enumerate(per_doc):
            novel = sum(1 for g in gs if df_cnt[g] == 1)
            assert got[i]["n_grams"] == len(gs)
            assert got[i]["n_novel"] == novel
            if gs:
                assert got[i]["novelty_frac"] == round(novel / len(gs), 4)
            else:
                assert got[i]["novelty_frac"] is None

    def test_copies_have_zero_novelty(self, spark):
        got = self._run(spark, ["p q r s t", "p q r s t"], n=3)
        assert got[0]["n_novel"] == 0 and got[1]["n_novel"] == 0
        assert got[0]["novelty_frac"] == 0.0

    def test_unique_doc_full_novelty(self, spark):
        got = self._run(spark, ["entirely fresh words here now"], n=3)
        assert got[0]["novelty_frac"] == 1.0

    def test_within_doc_repeat_counts_once(self, spark):
        # the same gram twice INSIDE one doc is still novel corpus-wide
        got = self._run(spark, ["a b c a b c"], n=3)
        # positions yield "a b c" twice plus "b c a", "c a b" -> 3 distinct
        assert got[0]["n_grams"] == 3
        assert got[0]["novelty_frac"] == 1.0

    def test_no_cartesian_plan(self, spark):
        from super_speedy_syslog_searcher_spark.operators.curation import ngram_novelty

        df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        plan = ngram_novelty(df)._jdf.queryExecution().executedPlan().toString()
        assert "Cartesian" not in plan and "Python" not in plan


class TestExactKSample:
    def _df(self, spark, n=400):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        )

    def test_exactly_k_per_stratum(self, spark):
        from super_speedy_syslog_searcher_spark.operators.curation import exact_k_sample

        rows = exact_k_sample(self._df(spark), 30).collect()
        per = {}
        for r in rows:
            per[r["lang"]] = per.get(r["lang"], 0) + 1
            assert 1 <= r["sample_rank"] <= 30
        assert per == {"en": 30, "de": 30}

    def test_layout_invariance(self, spark):
        from super_speedy_syslog_searcher_spark.operators.curation import exact_k_sample

        d = self._df(spark)
        a = sorted(r["doc_id"] for r in exact_k_sample(d.repartition(1), 15).collect())
        b = sorted(r["doc_id"] for r in exact_k_sample(d.repartition(13), 15).collect())
        assert a == b

    def test_bounded_churn_when_corpus_grows(self, spark):
        # adding docs only swaps members whose hash enters the top-k:
        # the old and new samples differ by at most the insert count
        from super_speedy_syslog_searcher_spark.operators.curation import exact_k_sample

        small = self._df(spark, 300)
        big = self._df(spark, 400)  # 100 new docs (50 per stratum)
        a = {r["doc_id"] for r in exact_k_sample(small, 20).collect()}
        b = {r["doc_id"] for r in exact_k_sample(big, 20).collect()}
        assert len(a) == len(b) == 40
        # each new doc whose hash enters the top-k displaces EXACTLY one
        # old member; every other kept row comes from the old sample —
        # the selection never reshuffles beyond the entrants
        new_entrants = {d for d in b if d >= 300}
        assert b - new_entrants <= a
        assert len(a - b) == len(new_entrants)

    def test_k_larger_than_stratum(self, spark):
        from super_speedy_syslog_searcher_spark.operators.curation import exact_k_sample

        d = spark.createDataFrame([(1, "xx"), (2, "xx")], "doc_id long, lang string")
        assert exact_k_sample(d, 10).count() == 2

    def test_partial_topk_in_plan(self, spark):
        # Spark must plan the partial WindowGroupLimit below the exchange
        # — the guard against a hot stratum funneling raw rows into one
        # task's sort
        from super_speedy_syslog_searcher_spark.operators.curation import exact_k_sample

        plan = (
            exact_k_sample(self._df(spark), 5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "WindowGroupLimit" in plan


class TestHtmlNormalizePropertyTwin:
    """Randomized cross-engine twins for the regex-chain operators: the
    same generated strings must come out of Spark's Java-regex chain and
    DuckDB's RE2 chain byte-identical — the guard against dialect drift
    that fixed cases miss (module-head Java-cap-RE2 discipline)."""

    FRAGMENTS = [
        "a", "bb", " ", "  ", "<", ">", "&", ";", "/", "!", '"', "'", "=",
        "\n", "\t", "<p>", "</p>", "<BR/>", "<div class='x'>", "</div>",
        "<script>", "</script>", "<style>", "</style>", "<!--", "-->",
        "&amp;", "&lt;", "&gt;", "&nbsp;", "&#39;", "plain words here",
        "1 < 2", "x > y",
    ]

    def _twin_check(self, spark, texts, spark_fn, sql_expr_fn, out_col):
        import duckdb

        df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, t string")
        got = {r["doc_id"]: r[out_col] for r in spark_fn(df).collect()}
        con = duckdb.connect()
        con.execute("CREATE TABLE x (doc_id BIGINT, t VARCHAR)")
        con.executemany("INSERT INTO x VALUES (?, ?)", list(enumerate(texts)))
        want = dict(con.execute(f"SELECT doc_id, {sql_expr_fn('t')} FROM x").fetchall())
        con.close()
        for i in range(len(texts)):
            assert got[i] == want[i], (i, repr(texts[i]), repr(got[i]), repr(want[i]))

    def test_extract_html_twin_random(self, spark):
        import random

        from super_speedy_syslog_searcher_spark.entry_queries_curation import (
            _sql_html_extract,
        )
        from super_speedy_syslog_searcher_spark.operators.curation import (
            extract_html_text,
        )

        rng = random.Random(20260819)
        texts = [
            "".join(rng.choice(self.FRAGMENTS) for _ in range(rng.randint(0, 40)))
            for _ in range(200)
        ] + ["a \n", " x \n\n", "y \t\n"]  # Java-$-vs-RE2 anchor regressions
        self._twin_check(
            spark,
            texts,
            lambda d: extract_html_text(d, html_col="t"),
            _sql_html_extract,
            "text",
        )

    def test_normalize_twin_random(self, spark):
        import random

        from super_speedy_syslog_searcher_spark.entry_queries_curation import (
            _sql_normalize,
        )
        from super_speedy_syslog_searcher_spark.operators.curation import normalize_text

        frags = self.FRAGMENTS + [
            "\u00e9",  # precomposed e-acute
            "e\u0301",  # decomposed e-acute (NFC must compose)
            "A\u030a",  # decomposed ring
            "\u00a0",  # NBSP
            "\u0007",  # C0 control
            "\u009f",  # C1 control
            "caf\u00e9",
            "ö", "ß", "İ",
        ]
        rng = random.Random(20260819)
        texts = [
            "".join(rng.choice(frags) for _ in range(rng.randint(0, 40)))
            for _ in range(200)
        ] + ["a \n", " x \n\n", "y \t \n"]  # Java-$-vs-RE2 anchor regressions
        self._twin_check(
            spark,
            texts,
            lambda d: normalize_text(d, text_col="t"),
            _sql_normalize,
            "norm_text",
        )


class TestNgramNoveltyMaterialize:
    def test_materialized_path_equal(self, spark):
        from super_speedy_syslog_searcher_spark.operators.curation import ngram_novelty

        texts = ["a b c d e", "a b c d e", "p q r s t u"]
        df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        a = sorted(map(tuple, ngram_novelty(df, n=3).collect()))
        b = sorted(map(tuple, ngram_novelty(df, n=3, materialize=True).collect()))
        assert a == b


# ---------------------------------------------------------------------------
# priority sampling (weighted WOR)
# ---------------------------------------------------------------------------
def _py_priority(doc_id: str, w: int, seed: str = "psample") -> float:
    import hashlib

    h = int(hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:8], 16)
    return float(w) / ((h + 1) / 4294967296.0)


def test_priority_sample_matches_python_twin(spark):
    from super_speedy_syslog_searcher_spark.operators.curation import priority_sample

    rows = [(f"d{i:04d}", "en" if i % 2 else "de", (i * 37) % 997 + 1) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, n_tok int")
    k = 15
    got = {
        r["doc_id"]: r for r in priority_sample(df, k, weight_col="n_tok").collect()
    }
    # python twin: rank by priority desc per lang, tau = (k+1)-th
    import collections

    bylang = collections.defaultdict(list)
    for did, lang, w in rows:
        bylang[lang].append((_py_priority(did, w), did, w))
    expect = {}
    for lang, items in bylang.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        tau = items[k][0] if len(items) > k else 0.0
        for rank, (q, did, w) in enumerate(items[:k], start=1):
            expect[did] = (rank, max(float(w), tau))
    assert set(got) == set(expect)
    for did, (rank, est) in expect.items():
        assert got[did]["prio_rank"] == rank, did
        assert got[did]["est_w"] == est, did  # bit-exact, not approx


def test_priority_sample_layout_invariant_and_small_stratum(spark):
    from super_speedy_syslog_searcher_spark.operators.curation import priority_sample

    rows = [(f"x{i}", "solo" if i < 5 else "big", i + 1) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, n_tok int")
    a = sorted(
        (r["doc_id"], r["prio_rank"], r["est_w"])
        for r in priority_sample(df, 10, weight_col="n_tok").collect()
    )
    b = sorted(
        (r["doc_id"], r["prio_rank"], r["est_w"])
        for r in priority_sample(df.repartition(7), 10, weight_col="n_tok").collect()
    )
    assert a == b
    # the 5-row stratum keeps everything with est_w == its own weight
    solo = [r for r in priority_sample(df, 10, weight_col="n_tok").collect() if r["lang"] == "solo"]
    assert len(solo) == 5
    for r in solo:
        assert r["est_w"] == float(r["n_tok"])


def test_priority_sample_estimator_is_unbiased_over_seeds(spark):
    """Sum of est_w over the sample estimates total weight; averaged
    over many independent seeds the relative error collapses (weak-LLN
    check of the Duffield et al. unbiasedness at k=25, n=200)."""
    from super_speedy_syslog_searcher_spark.operators.curation import priority_sample

    rows = [(f"d{i}", "en", (i * 13) % 301 + 1) for i in range(200)]
    total = sum(w for _, _, w in rows)
    df = spark.createDataFrame(rows, "doc_id string, lang string, n_tok int")
    ests = []
    for s in range(12):
        got = priority_sample(df, 25, weight_col="n_tok", seed=f"ub{s}").collect()
        ests.append(sum(r["est_w"] for r in got))
    mean = sum(ests) / len(ests)
    assert abs(mean - total) / total < 0.15, (mean, total)


class TestBadwordsFilter:
    """C4 §2.2 any-blocked-word page filter (curation.badwords_filter)."""

    def test_c4_rule_edges(self, spark):
        from super_speedy_syslog_searcher_spark.operators.curation import badwords_filter

        df = spark.createDataFrame(
            [
                ("d0", "a clean line of words"),
                ("d1", "contains BADWORD mid sentence"),
                ("d2", "edge Badword! and (badword) twice"),
                ("d3", "notbadword is a different word"),
                ("d4", ""),
                ("d5", "badword badword badword"),
            ],
            "doc_id string, text string",
        )
        got = {
            r["doc_id"]: (r["bw_hits"], r["bw_distinct"], r["bw_keep"])
            for r in badwords_filter(df, ["badword", "zzz"]).collect()
        }
        assert got == {
            "d0": (0, 0, 1),
            "d1": (1, 1, 0),   # case-insensitive
            "d2": (2, 1, 0),   # punctuation stripped at edges
            "d3": (0, 0, 1),   # substring of a longer word never matches
            "d4": (0, 0, 1),   # empty doc is clean
            "d5": (3, 1, 0),
        }

    def test_distinct_counts_and_row_parity(self, spark):
        from super_speedy_syslog_searcher_spark.operators.curation import badwords_filter

        df = spark.createDataFrame(
            [("a", "x y z x"), ("b", "x q"), ("c", "q q")],
            "doc_id string, text string",
        )
        out = badwords_filter(df, ["x", "y"]).collect()
        assert len(out) == df.count()  # one row per input doc, always
        got = {r["doc_id"]: (r["bw_hits"], r["bw_distinct"]) for r in out}
        assert got == {"a": (3, 2), "b": (1, 1), "c": (0, 0)}

    def test_blocklist_join_is_broadcast(self, spark):
        """The word→blocklist join must be a broadcast hash join: the
        corpus-scale word stream may never shuffle on the word key."""
        from super_speedy_syslog_searcher_spark.operators.curation import badwords_filter

        df = spark.createDataFrame([("a", "x y")], "doc_id string, text string")
        plan = badwords_filter(df, ["x"])._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
