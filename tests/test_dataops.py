"""Tests for the training-data operators: dedup, similarity, text stats,
multimodal plumbing (SURVEY — 'beyond the reference' section)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def small_docs(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),
        (3, "completely different words about spark shuffles and parquet files"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (5, "tiny"),
    ]
    return _docs_df(spark, base)


class TestExactDedup:
    def test_groups(self, spark, small_docs):
        from super_speedy_syslog_searcher_spark.operators.dedup import exact_dedup_groups

        got = {r["keeper"]: r["n_copies"] for r in exact_dedup_groups(small_docs).collect()}
        assert got[1] == 2  # doc 4 folded into doc 1
        assert got[2] == 1 and got[3] == 1 and got[5] == 1
        assert 4 not in got


class TestJaccard:
    def test_near_dup_found_exact_not_self(self, spark, small_docs):
        from super_speedy_syslog_searcher_spark.operators.dedup import ngram_jaccard_pairs

        pairs = {(r["a"], r["b"]): r["j"] for r in ngram_jaccard_pairs(small_docs, threshold=0.5).collect()}
        assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
        assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0  # one-word change
        assert all(a < b for (a, b) in pairs)

    def test_minhash_lsh_matches_exact(self, spark, small_docs):
        from super_speedy_syslog_searcher_spark.operators.dedup import (
            minhash_lsh_dedup_pairs,
            ngram_jaccard_pairs,
        )

        exact = {(r["a"], r["b"], r["j"]) for r in ngram_jaccard_pairs(small_docs, threshold=0.6).collect()}
        lsh = {(r["a"], r["b"], r["j"]) for r in minhash_lsh_dedup_pairs(small_docs, threshold=0.6).collect()}
        assert lsh == exact  # high-threshold regime: LSH recall ~1


class TestSimhash:
    def test_exact_dups_hamming_zero(self, spark, small_docs):
        from super_speedy_syslog_searcher_spark.operators.dedup import simhash_pairs

        pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_pairs(small_docs, max_hamming=3).collect()}
        assert pairs.get((1, 4)) == 0

    def test_deterministic(self, spark, small_docs):
        from super_speedy_syslog_searcher_spark.operators.dedup import simhash_col

        a = small_docs.select(simhash_col("text").alias("h")).collect()
        b = small_docs.select(simhash_col("text").alias("h")).collect()
        assert [r["h"] for r in a] == [r["h"] for r in b]

    def test_simhash_matches_sql_oracle(self, spark, small_docs):
        """The md5-60-bit simhash must be bit-identical to the DuckDB SQL
        formulation (the driver-oracle contract)."""
        import duckdb

        from super_speedy_syslog_searcher_spark.operators.dedup import simhash_col

        got = {r["doc_id"]: r["h"] for r in small_docs.select("doc_id", simhash_col("text").alias("h")).collect()}
        pdf = small_docs.select("doc_id", "text").toPandas()
        con = duckdb.connect()
        con.register("docs", pdf)
        sql = """
        WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM docs),
        h AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS hw FROM w),
        bits AS (
          SELECT doc_id, b, SUM(CASE WHEN (hw >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) AS bs
          GROUP BY doc_id, b
        )
        SELECT doc_id, SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sh
        FROM bits GROUP BY doc_id
        """
        want = {int(r[0]): int(r[1]) for r in con.execute(sql).fetchall()}
        assert got == want


class TestSimilarity:
    def test_topk_matches_numpy(self, spark):
        from super_speedy_syslog_searcher_spark.operators.similarity import cosine_topk

        rng = np.random.RandomState(0)
        vecs = rng.randn(30, 8).astype("float32")
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(30)], "vec_id long, embedding array<float>"
        )
        got = cosine_topk(df, df.filter(F.col("vec_id") < 3), k=4).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
        v = vecs.astype("float64")
        sims = v @ v.T / (np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
        for q in range(3):
            order = [i for i in np.argsort(-sims[q]) if i != q][:4]
            assert [n for _, n in sorted(by_q[q])] == order

    def test_lsh_recall(self, spark):
        from super_speedy_syslog_searcher_spark.operators.similarity import cosine_topk, cosine_topk_lsh

        rng = np.random.RandomState(1)
        vecs = rng.randn(60, 8).astype("float32")
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(60)], "vec_id long, embedding array<float>"
        )
        q = df.filter(F.col("vec_id") < 5)
        exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(df, q, k=5).collect()}
        # low-dim random vectors have weak neighbors (cos≈0.5-0.7): use
        # shorter hashes + more tables for a predictably-high recall regime
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk_lsh(df, q, k=5, n_planes=3, n_tables=8).collect()
        }
        assert len(approx & exact) / len(exact) >= 0.5  # tunable recall, sanity floor

    def test_lsh_oversized_candidates_take_shuffle_fallback(self, spark):
        """VERDICT r3 #7: past max_broadcast_candidates the vector
        re-attach must switch to a shuffle join (no failed broadcast) and
        produce the identical result."""
        from super_speedy_syslog_searcher_spark.operators.similarity import cosine_topk_lsh

        rng = np.random.RandomState(3)
        vecs = rng.randn(40, 8).astype("float32")
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(40)],
            "vec_id long, embedding array<float>",
        )
        q = df.filter(F.col("vec_id") < 4)
        kw = dict(k=5, n_planes=3, n_tables=8)
        via_broadcast = cosine_topk_lsh(df, q, **kw)
        via_shuffle = cosine_topk_lsh(df, q, max_broadcast_candidates=0, **kw)
        # the fallback plan must not broadcast the candidate-id set
        plan = via_shuffle._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") < (
            via_broadcast._jdf.queryExecution().executedPlan().toString().count("BroadcastHashJoin")
        )
        assert sorted(map(tuple, via_shuffle.collect())) == sorted(
            map(tuple, via_broadcast.collect())
        )

    def test_dup_pairs(self, spark):
        from super_speedy_syslog_searcher_spark.operators.similarity import cosine_dup_pairs

        rng = np.random.RandomState(2)
        vecs = rng.randn(20, 8).astype("float32")
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
        rows += [(100 + i, [float(x) for x in vecs[i]]) for i in range(3)]  # exact copies
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        pairs = {(r["a"], r["b"]) for r in cosine_dup_pairs(df, threshold=0.99).collect()}
        assert {(0, 100), (1, 101), (2, 102)} <= pairs


class TestTextStats:
    def test_quality_and_tokens(self, spark):
        from super_speedy_syslog_searcher_spark.operators.textstats import quality_stats, token_counts

        df = _docs_df(spark, [(1, "the cat sat on a mat with a hat and a bat plus more")])
        q = quality_stats(df).collect()[0]
        assert q["n_words"] == 14
        assert q["keep"] == 1
        t = token_counts(_docs_df(spark, [(1, "ab 12 x.y")])).collect()[0]
        assert t["ws_tokens"] == 3
        assert t["bpe_tokens"] == 5  # ab | 12 | x | . | y

    def test_fingerprint_normalizes_ws(self, spark):
        from super_speedy_syslog_searcher_spark.operators.textstats import content_fingerprint

        df = _docs_df(spark, [(1, "Hello   World"), (2, "hello world")])
        fps = [r["fp"] for r in content_fingerprint(df).orderBy("doc_id").collect()]
        assert fps[0] == fps[1]

    def test_winnow_shift_overlap(self, spark):
        from super_speedy_syslog_searcher_spark.operators.textstats import winnow_fingerprints

        # shared region must exceed k + 2*window chars for a guaranteed
        # common window-minimum fingerprint
        shared = "a long shared middle stretch of identical winnowable content"
        df = _docs_df(spark, [(1, f"prefix {shared} suffix"), (2, f"other {shared} thing")])
        rows = winnow_fingerprints(df).orderBy("doc_id").collect()
        s1, s2 = set(rows[0]["fps"]), set(rows[1]["fps"])
        assert s1 and s2 and s1 & s2  # shared substring → shared fingerprints

    def test_winnow_matches_python_reference(self, spark):
        """The Column-expression winnow must equal a from-scratch Python
        winnower (md5-60-bit gram hash, window-min, distinct) on edge
        shapes: shorter than k, exactly k grams, fewer grams than the
        window, and a long doc."""
        import hashlib

        from super_speedy_syslog_searcher_spark.operators.textstats import winnow_fingerprints

        k, w = 5, 8

        def ref_winnow(t: str) -> list[int]:
            s = t.lower()
            if len(s) < k:
                return []
            h = [
                int(hashlib.md5(s[i : i + k].encode()).hexdigest()[:15], 16)
                for i in range(len(s) - k + 1)
            ]
            n_win = max(len(h) - w + 1, 1)
            return sorted({min(h[i : i + w]) for i in range(n_win)})

        texts = ["abcd", "abcde", "abcdefgh", "Mixed CASE Text!", "the quick brown fox jumps over the lazy dog" * 3]
        df = _docs_df(spark, list(enumerate(texts)))
        got = {r["doc_id"]: list(r["fps"]) for r in winnow_fingerprints(df).collect()}
        for i, t in enumerate(texts):
            assert got[i] == ref_winnow(t), f"mismatch on {t!r}"


class TestMultimodal:
    def test_meta_extraction_and_errors(self, spark):
        from super_speedy_syslog_searcher_spark.operators.multimodal import extract_media_meta

        rows = [("a", "image", bytearray(b"AB12")), ("b", "audio", bytearray(b"xyz")), ("c", "video", bytearray(b""))]
        df = spark.createDataFrame(rows, "media_id string, kind string, payload binary")
        got = {r["media_id"]: r for r in extract_media_meta(df).collect()}
        assert got["a"]["ok"] and got["a"]["width"] == ord("A") * 4 + 32
        assert got["a"]["height"] == ord("B") * 2 + 16
        assert got["b"]["duration_ms"] == 30
        assert not got["c"]["ok"] and got["c"]["error"] == "empty payload"

    def test_real_decoder_parses_and_rejects(self, spark):
        """The real path parses genuine headers and reports unknown bytes
        as (ok=false, error) rows — never a thrown task."""
        from super_speedy_syslog_searcher_spark.operators.multimodal import build_png, extract_media_meta

        df = spark.createDataFrame(
            [("a", "image", bytearray(b"AB")), ("b", "image", bytearray(build_png(32, 16)))],
            "media_id string, kind string, payload binary",
        )
        rows = {r["media_id"]: r for r in extract_media_meta(df, decoder="real").collect()}
        assert not rows["a"]["ok"] and "unknown" in rows["a"]["error"]
        assert rows["b"]["ok"] and rows["b"]["width"] == 32 and rows["b"]["height"] == 16


class TestBinaryFormats:
    def test_fixedstruct_roundtrip_and_scoring(self, spark):
        from super_speedy_syslog_searcher_spark.operators.fixedstruct import (
            UTMPX,
            decode_fixedstruct,
            pack_records,
            time_ordered,
        )

        rows = []
        # deliberately out of order; one null record
        for i, sec in enumerate([300, 100, 200]):
            rows.append(("d1", "s1", i, bytearray(pack_records(UTMPX, 7, 40 + i, f"user{i}", sec, i))))
        rows.append(("d1", "s1", 99, bytearray(bytes(UTMPX.size))))
        df = spark.createDataFrame(rows, "doc_id string, source string, record_no int, record binary")
        decoded = decode_fixedstruct(df)
        got = {r["record_no"]: r for r in decoded.collect()}
        assert got[0]["ut_user"] == "user0" and got[0]["ut_pid"] == 40
        assert not got[99]["valid"]
        ranked = time_ordered(decoded).orderBy("rec_rank").collect()
        assert [r["record_no"] for r in ranked] == [1, 2, 0]  # time order

    def test_truncated_record_does_not_corrupt_siblings(self, spark):
        """A single wrong-size record must be the ONLY one marked invalid;
        correctly-sized siblings decode normally (the round-1 ragged-batch
        fallback zeroed the whole group)."""
        from super_speedy_syslog_searcher_spark.operators.fixedstruct import (
            UTMPX,
            decode_fixedstruct,
            pack_records,
            time_ordered,
        )

        good0 = pack_records(UTMPX, 7, 11, "alice", 100, 0)
        good1 = pack_records(UTMPX, 7, 12, "bob", 200, 0)
        truncated = good0[:17]  # classic truncated-tail utmp record
        rows = [
            ("d1", "s1", 0, bytearray(good0)),
            ("d1", "s1", 1, bytearray(truncated)),
            ("d1", "s1", 2, bytearray(good1)),
        ]
        df = spark.createDataFrame(rows, "doc_id string, source string, record_no int, record binary")
        got = {r["record_no"]: r for r in decode_fixedstruct(df, layout_by_source={"s1": "utmpx"}).collect()}
        assert got[0]["valid"] and got[0]["ut_user"] == "alice" and got[0]["ut_pid"] == 11
        assert got[2]["valid"] and got[2]["ut_user"] == "bob" and got[2]["ut_pid"] == 12
        assert not got[1]["valid"] and got[1]["ts"] is None
        ranked = time_ordered(decode_fixedstruct(df, layout_by_source={"s1": "utmpx"}))
        assert [r["record_no"] for r in ranked.orderBy("rec_rank").collect()] == [0, 2]

    def test_journal_precedence(self, spark):
        from super_speedy_syslog_searcher_spark.operators.journal import parse_journal_export

        text = (
            "__REALTIME_TIMESTAMP=1000000\nMESSAGE=a\n\n"
            "__REALTIME_TIMESTAMP=2000000\n_SOURCE_REALTIME_TIMESTAMP=2500000\nMESSAGE=b"
        )
        df = spark.createDataFrame([("d", "s", text)], "doc_id string, source string, text string")
        got = parse_journal_export(df).orderBy("entry_no").collect()
        assert got[0]["ts"].timestamp() == 1.0
        assert got[1]["ts"].timestamp() == 2.5  # source realtime wins
        assert got[1]["fields"]["MESSAGE"] == "b"

    def test_evtx_dedup_and_ooo(self, spark):
        from super_speedy_syslog_searcher_spark.operators.evtx import evtx_ordered, evtx_summary
        from datetime import datetime

        t = lambda s: datetime(2024, 1, 1, 0, 0, s)
        rows = [
            ("s", 1, t(10), 0), ("s", 2, t(5), 1),  # 2 arrives after 1 but is earlier → ooo
            ("s", 3, t(20), 2), ("s", 1, t(10), 3),  # dup of record 1
        ]
        df = spark.createDataFrame(rows, "source string, record_id long, ts timestamp, arrival_no long")
        out = evtx_ordered(df).orderBy("emit_rank").collect()
        assert [r["record_id"] for r in out] == [2, 1, 3]
        summ = evtx_summary(evtx_ordered(df)).collect()[0]
        assert summ["events_accepted"] == 3 and summ["out_of_order"] == 1

    def test_evtx_bucketed_windows_match_single_window(self, spark):
        """The two-level bucketed rank/lag (VERDICT r2 #4: no per-source
        single-task window) must agree with a naive per-source window even
        when records straddle many arrival and time buckets."""
        import random
        from datetime import datetime, timedelta
        from pyspark.sql.window import Window
        from super_speedy_syslog_searcher_spark.operators.evtx import evtx_ordered

        rng = random.Random(5)
        base = datetime(2024, 1, 1)
        rows = []
        for src in ["a", "b"]:
            order = list(range(200))
            rng.shuffle(order)
            for arrival, rec in enumerate(order):
                # sparse arrival numbers: stress empty-bucket chaining
                rows.append((src, rec, base + timedelta(seconds=rec * 7), arrival * 3 + 1))
        df = spark.createDataFrame(rows, "source string, record_id long, ts timestamp, arrival_no long")
        got = (
            evtx_ordered(df, arrival_bucket=16, emit_bucket_seconds=60)
            .select("source", "record_id", "emit_rank", "is_out_of_order")
            .collect()
        )
        arrive = Window.partitionBy("source").orderBy("arrival_no")
        emit = Window.partitionBy("source").orderBy("ts", "record_id")
        want = (
            df.withColumn(
                "is_out_of_order",
                F.coalesce((F.col("ts") < F.lag("ts").over(arrive)).cast("int"), F.lit(0)),
            )
            .withColumn("emit_rank", F.row_number().over(emit))
            .select("source", "record_id", "emit_rank", "is_out_of_order")
            .collect()
        )
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


class TestLayoutElection:
    def test_all_16_reference_layouts_roundtrip(self, spark):
        """Every reference FixedStructType variant (fixedstruct.rs:161-242)
        packs and decodes; election recovers each source's layout."""
        from super_speedy_syslog_searcher_spark.operators.fixedstruct import (
            LAYOUTS,
            decode_fixedstruct,
            elect_layouts,
            pack_records,
        )

        assert len(LAYOUTS) == 16
        rows = []
        for layout in LAYOUTS:
            for i in range(8):
                rows.append(
                    (f"d_{layout.name}", f"src.{layout.name}", i,
                     bytearray(pack_records(layout, 7, 500 + i, f"u{i}", 1700000000 + i, 42)))
                )
        df = spark.createDataFrame(rows, "doc_id string, source string, record_no int, record binary")
        elected = elect_layouts(df, doc_sample_mod=1)
        # size-distinct layouts must elect exactly themselves; the two
        # 64-byte acct variants disambiguate by score (epoch position)
        for layout in LAYOUTS:
            assert elected[f"src.{layout.name}"] == layout.name, layout.name
        decoded = decode_fixedstruct(df, layout_by_source=elected)
        got = {(r["source"], r["record_no"]): r for r in decoded.collect()}
        for layout in LAYOUTS:
            r = got[(f"src.{layout.name}", 3)]
            assert r["valid"], layout.name
            assert r["ut_user"] == "u3", layout.name
            assert int(r["ts"].timestamp()) == 1700000003, layout.name
            if layout.off_pid is not None:
                assert r["ut_pid"] == 503, layout.name
            if layout.off_type is not None:
                assert r["ut_type"] == 7, layout.name


    def test_hot_source_election_is_bounded(self, spark):
        """A source with 100k+ sampled records must elect correctly while
        the sample stage keeps at most sample_per_source rows per source
        (VERDICT r2 #1: the old collect_list funneled the whole source's
        sampled payload into one aggregation buffer before slicing)."""
        import pandas as pd
        from super_speedy_syslog_searcher_spark.operators.fixedstruct import (
            LAYOUT_BY_NAME,
            bounded_sample,
            elect_layouts,
            pack_records,
        )

        layout = LAYOUT_BY_NAME["netbsd_x8664_utmp"]  # 40 B — cheap at 100k
        n = 100_000
        recs = [pack_records(layout, 7, 0, f"u{i % 50}", 1_700_000_000 + i, 0) for i in range(n)]
        pdf = pd.DataFrame(
            {
                "doc_id": [f"d{i % 997:06d}" for i in range(n)],
                "source": ["hot.src"] * n,
                "record_no": list(range(n)),
                "record": recs,
            }
        )
        df = spark.createDataFrame(pdf)

        sample = bounded_sample(df, doc_sample_mod=1)
        assert sample.count() == 64  # global cap per source, pre-collect
        plan = sample._jdf.queryExecution().executedPlan().toString()
        assert "row_number" in plan and "collect_list" not in plan

        elected = elect_layouts(df, doc_sample_mod=1)
        assert elected == {"hot.src": "netbsd_x8664_utmp"}

    def test_mixed_layouts_elected_per_source(self, spark):
        from super_speedy_syslog_searcher_spark.operators.fixedstruct import (
            LAYOUT_BY_NAME,
            UTMPX,
            decode_fixedstruct,
            elect_layouts,
            pack_records,
        )

        acct_v3 = LAYOUT_BY_NAME["linux_x86_acct_v3"]
        rows = []
        for i in range(12):
            rows.append(("dx", "big.src", i, bytearray(pack_records(UTMPX, 2, 100 + i, f"ux{i}", 1000 + i, 0))))
            rows.append(("dy", "small.src", i, bytearray(pack_records(acct_v3, 3, 200 + i, f"uy{i}", 2000 + i, 0))))
        df = spark.createDataFrame(rows, "doc_id string, source string, record_no int, record binary")
        elected = elect_layouts(df, doc_sample_mod=1)
        assert elected == {"big.src": "linux_x86_utmpx", "small.src": "linux_x86_acct_v3"}
        decoded = decode_fixedstruct(df, layout_by_source=elected)
        got = {(r["source"], r["record_no"]): r for r in decoded.collect()}
        assert got[("big.src", 3)]["ut_user"] == "ux3" and got[("big.src", 3)]["ut_pid"] == 103
        assert got[("small.src", 3)]["ut_user"] == "uy3" and got[("small.src", 3)]["ut_pid"] == 203


class TestRealCodecs:
    def test_image_headers_parse(self):
        from super_speedy_syslog_searcher_spark.operators.multimodal import (
            build_bmp, build_gif, build_jpeg, build_png, parse_image_header,
        )

        assert parse_image_header(build_png(640, 480)) == (640, 480, "png")
        assert parse_image_header(build_gif(13, 7)) == (13, 7, "gif")
        assert parse_image_header(build_bmp(1920, 1080)) == (1920, 1080, "bmp")
        assert parse_image_header(build_jpeg(320, 200)) == (320, 200, "jpeg")
        assert parse_image_header(b"notanimage") is None
        assert parse_image_header(b"") is None

    def test_jpeg_sof_after_other_segments(self):
        """SOF can follow APP0/quant segments — the scanner must skip them."""
        from super_speedy_syslog_searcher_spark.operators.multimodal import parse_image_header

        app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        sof = b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08" + (77).to_bytes(2, "big") + (99).to_bytes(2, "big") + b"\x01\x11\x00"
        assert parse_image_header(b"\xff\xd8" + app0 + sof + b"\xff\xd9") == (99, 77, "jpeg")

    def test_wav_and_mp4_duration(self):
        from super_speedy_syslog_searcher_spark.operators.multimodal import (
            build_mp4, build_wav, parse_mp4_duration_ms, parse_wav_duration_ms,
        )

        assert parse_wav_duration_ms(build_wav(2500)) == 2500
        assert parse_mp4_duration_ms(build_mp4(61000)) == 61000
        assert parse_wav_duration_ms(b"RIFFxxxx") is None
        assert parse_mp4_duration_ms(b"\x00\x00\x00\x08free") is None

    def test_real_decode_rejects_unknown(self):
        from super_speedy_syslog_searcher_spark.operators.multimodal import real_decode

        out = real_decode("image", b"garbage here")
        assert out["ok"] is False and "unknown" in out["error"]


class TestIVF:
    def test_ivf_recall_vs_exact(self, spark):
        """IVF with nprobe=4/16 lists must recover most exact top-5
        neighbors (the nprobe dial trades recall for cost)."""
        import numpy as np

        from super_speedy_syslog_searcher_spark.operators.similarity import (
            cosine_topk,
            cosine_topk_ivf,
        )

        rng = np.random.RandomState(5)
        vecs = rng.randn(200, 16).astype("float32")
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = df.filter(F.col("vec_id") < 8)
        exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(df, q, k=5).collect()}
        approx = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk_ivf(df, q, k=5, n_lists=8, nprobe=3).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.6, recall

    def test_trained_centroids_beat_random_on_clustered_data(self, spark):
        """kmeans-trained coarse quantizer: on blob-structured data,
        IVF with trained centroids at nprobe=1 must reach recall >= the
        seeded-gaussian quantizer (lists follow the data's density)."""
        import numpy as np

        from super_speedy_syslog_searcher_spark.operators.similarity import (
            cosine_topk,
            cosine_topk_ivf,
            kmeans_assign,
        )

        rng = np.random.RandomState(9)
        blobs = rng.randn(6, 12) * 10
        vecs = np.concatenate(
            [blobs[i % 6] + rng.randn(1, 12) for i in range(180)]
        ).astype("float32")
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(180)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = df.filter(F.col("vec_id") < 10)
        exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(df, q, k=5).collect()}
        _, cents = kmeans_assign(df, k=6, iters=4)
        trained = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk_ivf(df, q, k=5, n_lists=6, nprobe=1, centroids=cents).collect()
        }
        random_c = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk_ivf(df, q, k=5, n_lists=6, nprobe=1).collect()
        }
        r_trained = len(exact & trained) / len(exact)
        r_random = len(exact & random_c) / len(exact)
        assert r_trained >= r_random, (r_trained, r_random)
        assert r_trained >= 0.9, r_trained

    def test_ivf_full_probe_equals_exact(self, spark):
        """nprobe = n_lists degenerates to the exact search."""
        import numpy as np

        from super_speedy_syslog_searcher_spark.operators.similarity import (
            cosine_topk,
            cosine_topk_ivf,
        )

        rng = np.random.RandomState(6)
        vecs = rng.randn(60, 8).astype("float32")
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = df.filter(F.col("vec_id") < 5)
        exact = sorted(map(tuple, cosine_topk(df, q, k=5).collect()))
        full = sorted(map(tuple, cosine_topk_ivf(df, q, k=5, n_lists=4, nprobe=4).collect()))
        assert exact == full


def test_layout_offsets_match_reference_assertions():
    """Every Layout's size and modeled field offsets must equal the
    reference's compile-time assertions (fixedstruct.rs assertcp_eq!)."""
    import re
    from pathlib import Path

    import pytest

    from super_speedy_syslog_searcher_spark.operators.fixedstruct import LAYOUTS

    ref = Path("/root/reference/src/data/fixedstruct.rs")
    if not ref.exists():
        pytest.skip("reference tree not present")
    src = ref.read_text()
    mods = sorted(((m.group(1), m.start()) for m in re.finditer(r"pub mod (\w+) \{", src)), key=lambda kv: kv[1])
    bounds = mods + [("_end", len(src))]
    per_mod = {name: src[lo:hi] for (name, lo), (_, hi) in zip(bounds, bounds[1:])}
    name_map = {
        "freebsd_x8664_utmpx": ("freebsd_x8664", "utmpx", "UTMPX"),
        "linux_arm64_lastlog": ("linux_arm64aarch64", "lastlog", "LASTLOG"),
        "linux_arm64_utmpx": ("linux_arm64aarch64", "utmpx", "UTMPX"),
        "linux_x86_acct": ("linux_x86", "acct", "ACCT"),
        "linux_x86_acct_v3": ("linux_x86", "acct_v3", "ACCT_V3"),
        "linux_x86_lastlog": ("linux_x86", "lastlog", "LASTLOG"),
        "linux_x86_utmpx": ("linux_x86", "utmpx", "UTMPX"),
        "netbsd_x8632_acct": ("netbsd_x8632", "acct", "ACCT"),
        "netbsd_x8632_lastlogx": ("netbsd_x8632", "lastlogx", "LASTLOGX"),
        "netbsd_x8632_utmpx": ("netbsd_x8632", "utmpx", "UTMPX"),
        "netbsd_x8664_lastlog": ("netbsd_x8664", "lastlog", "LASTLOG"),
        "netbsd_x8664_lastlogx": ("netbsd_x8664", "lastlogx", "LASTLOGX"),
        "netbsd_x8664_utmp": ("netbsd_x8664", "utmp", "UTMP"),
        "netbsd_x8664_utmpx": ("netbsd_x8664", "utmpx", "UTMPX"),
        "openbsd_x86_lastlog": ("openbsd_x86", "lastlog", "LASTLOG"),
        "openbsd_x86_utmp": ("openbsd_x86", "utmp", "UTMP"),
    }
    bad = []
    for lay in LAYOUTS:
        mod, struct, sc = name_map[lay.name]
        body = per_mod[mod]
        m = re.search(rf"assertcp_eq!\({sc}_SZ, (\d+)\);", body)
        assert m, lay.name
        if int(m.group(1)) != lay.size:
            bad.append((lay.name, "size", int(m.group(1)), lay.size))
        for field, want in (("ut_type", lay.off_type), ("ut_pid", lay.off_pid)):
            if want is None:
                continue
            mm = re.search(rf"assertcp_eq!\(offset_of!\({struct}, {field}\), (\d+)\);", body)
            if mm and int(mm.group(1)) != want:
                bad.append((lay.name, field, int(mm.group(1)), want))
    assert not bad, bad


def test_journal_binary_export_fields(spark):
    """The raw export stream may carry binary-valued fields
    (KEY\\n<le64 len><bytes>\\n) — e.g. MESSAGE with embedded newlines.
    The binary parser must keep them whole and apply the same
    _SOURCE_REALTIME precedence."""
    from super_speedy_syslog_searcher_spark.operators.journal import (
        parse_journal_export_binary,
    )

    msg = b"line one\nline two"
    entry1 = (
        b"__REALTIME_TIMESTAMP=1000000\n"
        b"MESSAGE\n" + len(msg).to_bytes(8, "little") + msg + b"\n"
        b"UNIT=ssh.service\n"
    )
    entry2 = (
        b"__REALTIME_TIMESTAMP=2000000\n"
        b"_SOURCE_REALTIME_TIMESTAMP=2500000\n"
        b"MESSAGE=plain\n"
    )
    payload = entry1 + b"\n" + entry2
    df = spark.createDataFrame(
        [("d", "s", bytearray(payload))], "doc_id string, source string, payload binary"
    )
    got = parse_journal_export_binary(df).orderBy("entry_no").collect()
    assert len(got) == 2
    assert got[0]["fields"]["MESSAGE"] == "line one\nline two"
    assert got[0]["fields"]["UNIT"] == "ssh.service"
    assert got[0]["ts"].timestamp() == 1.0
    assert got[1]["ts"].timestamp() == 2.5  # source realtime wins
    assert got[1]["n_fields"] == 3


def test_lsh_short_docs_produce_no_candidate_blowup(spark):
    """Docs with fewer than n words share no shingles — they must NOT
    pair with each other via degenerate all-zero signatures (at corpus
    scale that would be a quadratic skew bomb among short docs)."""
    from super_speedy_syslog_searcher_spark.operators.dedup import lsh_candidate_pairs

    rows = [(i, "hi") for i in range(40)] + [(100, "a b c d e f g"), (101, "a b c d e f g")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = lsh_candidate_pairs(df).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(100, 101)}


class TestConnectedComponents:
    """pairs → duplicate clusters (operators/dedup.connected_components)."""

    def _cc(self, spark, pairs):
        from super_speedy_syslog_searcher_spark.operators.dedup import connected_components

        df = spark.createDataFrame(pairs, "a long, b long")
        rows = connected_components(df).collect()
        return {r.node: (r.cluster_id, r.cluster_size) for r in rows}

    def test_chain_collapses_to_one_cluster(self, spark):
        # A~B, B~C, C~D: transitive closure must label all four with min
        got = self._cc(spark, [(1, 2), (2, 3), (3, 4)])
        assert got == {1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4)}

    def test_ring_and_disjoint_clusters(self, spark):
        got = self._cc(spark, [(10, 11), (11, 12), (12, 10), (20, 21)])
        assert got[10] == (10, 3) and got[11] == (10, 3) and got[12] == (10, 3)
        assert got[20] == (20, 2) and got[21] == (20, 2)

    def test_long_path_converges_via_pointer_jumping(self, spark):
        # a 40-node path: plain propagation would need 40 rounds, the
        # jump step must converge well inside max_iterations=25
        pairs = [(i, i + 1) for i in range(40)]
        got = self._cc(spark, pairs)
        assert all(got[i] == (0, 41) for i in range(41))

    def test_reversed_edge_direction_is_irrelevant(self, spark):
        assert self._cc(spark, [(5, 3), (3, 1)]) == self._cc(spark, [(1, 3), (3, 5)])


class TestKMeansSemDedup:
    """kmeans_assign + semdedup_pairs (SemDeDup, Abbas et al. 2023)."""

    def _vecs(self, spark, rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )

    @staticmethod
    def _py_kmeans(rows, k, iters):
        """Exact python twin: same init (k lowest ids), same argmin
        tie-break (lowest cluster), same float64 mean update, empty
        cluster keeps its centroid. Integer-valued inputs keep every sum
        exact in float64, so summation order cannot matter."""
        ids = sorted(i for i, _ in rows)
        bymap = dict(rows)
        cents = np.asarray([bymap[i] for i in ids[:k]], dtype=np.float64)
        for _ in range(iters + 1):
            sq = (cents * cents).sum(axis=1)
            m = np.asarray([bymap[i] for i in ids], dtype=np.float64)
            assign = np.argmin(sq - 2.0 * (m @ cents.T), axis=1)
            new = cents.copy()
            for c in range(cents.shape[0]):
                mask = assign == c
                if mask.any():
                    new[c] = m[mask].mean(axis=0)
            last = dict(zip(ids, assign.tolist()))
            cents = new
        return last

    def test_matches_python_reference_exactly(self, spark):
        from super_speedy_syslog_searcher_spark.operators.similarity import kmeans_assign

        rng = np.random.RandomState(11)
        rows = [(i, rng.randint(-8, 9, size=6).tolist()) for i in range(90)]
        want = self._py_kmeans(rows, k=4, iters=3)
        # NB: the reference applies iters updates then one final assign,
        # mirroring the operator (its loop assigns, updates, and the
        # returned assignment uses the post-loop centroids).
        assigned, cents = kmeans_assign(self._vecs(spark, rows), k=4, iters=3)
        got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
        assert got == want
        assert cents.shape == (4, 6)

    def test_recovers_separated_blobs(self, spark):
        from super_speedy_syslog_searcher_spark.operators.similarity import kmeans_assign

        rng = np.random.RandomState(5)
        blobs = [np.array([100, 0, 0]), np.array([0, 100, 0]), np.array([0, 0, 100])]
        rows = [
            (b * 1000 + i, (blobs[b] + rng.randint(-3, 4, size=3)).tolist())
            for b in range(3)
            for i in range(40)
        ]
        assigned, _ = kmeans_assign(self._vecs(spark, rows), k=3, iters=5)
        got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
        # every blob lands in exactly one cluster, and distinct blobs differ
        labels = {b: {got[b * 1000 + i] for i in range(40)} for b in range(3)}
        assert all(len(s) == 1 for s in labels.values())
        assert len({next(iter(s)) for s in labels.values()}) == 3

    def test_partition_layout_invariance(self, spark):
        from super_speedy_syslog_searcher_spark.operators.similarity import kmeans_assign

        rng = np.random.RandomState(3)
        rows = [(i, rng.randint(-5, 6, size=4).tolist()) for i in range(70)]
        df = self._vecs(spark, rows)
        a, _ = kmeans_assign(df.repartition(1), k=3, iters=2)
        b, _ = kmeans_assign(df.repartition(11), k=3, iters=2)
        assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}

    def test_semdedup_finds_within_cluster_dups(self, spark):
        from super_speedy_syslog_searcher_spark.operators.similarity import (
            kmeans_assign,
            semdedup_pairs,
        )

        rng = np.random.RandomState(7)
        blobs = [np.array([80, 0]), np.array([0, 80])]
        rows = [
            (b * 1000 + i, (blobs[b] + rng.randint(-2, 3, size=2)).tolist())
            for b in range(2)
            for i in range(25)
        ]
        # seed exact duplicates (cosine 1.0) inside each blob
        rows += [(9001, rows[0][1]), (9002, rows[25][1])]
        df = self._vecs(spark, rows)
        got = {(r["a"], r["b"]) for r in semdedup_pairs(df, threshold=0.999999, k=2, iters=3).collect()}
        assert (0, 9001) in got or (9001, 0) in got  # a<b ordering
        assert (1000, 9002) in got
        # python brute-force within-cluster reference at the same threshold
        assigned, _ = kmeans_assign(df, k=2, iters=3)
        cl = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
        m = {i: np.asarray(v, dtype=np.float64) for i, v in rows}
        want = set()
        for a in m:
            for b in m:
                if a < b and cl[a] == cl[b]:
                    c = m[a] @ m[b] / (np.linalg.norm(m[a]) * np.linalg.norm(m[b]))
                    if round(c, 6) >= 0.999999:
                        want.add((a, b))
        # engine rounds sim to 6dp in _scored? if not, compare directly
        got_unrounded = {
            (r["a"], r["b"])
            for r in semdedup_pairs(df, threshold=0.999999, k=2, iters=3).collect()
        }
        assert got_unrounded == want or got == want

    def test_assignment_udf_runs_once_in_pair_join(self, spark):
        from super_speedy_syslog_searcher_spark.operators.similarity import semdedup_pairs

        rng = np.random.RandomState(2)
        rows = [(i, rng.randint(-5, 6, size=3).tolist()) for i in range(40)]
        plan = (
            semdedup_pairs(self._vecs(spark, rows), threshold=0.9, k=2, iters=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("ArrowEvalPython") == 0  # inputs come from the checkpoint


class TestIncrementalLshIndex:
    """lsh_band_index + lsh_pairs_against_index (crawl-delta dedup)."""

    BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
    OTHER = "completely different content about spark structured streaming state stores"

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, text string")

    def test_incremental_closure_equals_full_batch(self, spark):
        from super_speedy_syslog_searcher_spark.operators.dedup import (
            connected_components,
            lsh_band_index,
            lsh_candidate_pairs,
            lsh_pairs_against_index,
        )

        d1 = [("101", self.BASE), ("102", self.BASE + " again"), ("201", self.OTHER)]
        d2 = [("103", self.BASE.replace("lazy", "sleepy")),
              ("202", self.OTHER + " indeed"),
              ("301", "a fully unrelated singleton text goes right here")]
        d3 = [("104", self.BASE + " once more"), ("302", "another loner entirely")]

        index = lsh_band_index(self._docs(spark, d1), k=64, bands=16)
        all_edges = None
        for delta in (d2, d3):
            pairs, new_idx = lsh_pairs_against_index(
                self._docs(spark, delta), index, k=64, bands=16
            )
            all_edges = pairs if all_edges is None else all_edges.unionByName(pairs)
            index = index.unionByName(new_idx)

        # delta-1 internal pairs come from the initial index build
        first = lsh_candidate_pairs(self._docs(spark, d1), k=64, bands=16)
        got_edges = all_edges.unionByName(first).distinct()

        full = lsh_candidate_pairs(self._docs(spark, d1 + d2 + d3), k=64, bands=16)

        def clusters(edges):
            out = {}
            for r in connected_components(edges).collect():
                out.setdefault(r["cluster_id"], set()).add(r["node"])
            return {frozenset(v) for v in out.values()}

        got, want = clusters(got_edges), clusters(full)
        assert got == want
        assert any({"101", "102", "103", "104"} <= c for c in want)

    def test_index_rows_are_narrow_and_banded(self, spark):
        from super_speedy_syslog_searcher_spark.operators.dedup import lsh_band_index

        idx = lsh_band_index(self._docs(spark, [("1", self.BASE)]), k=64, bands=16)
        assert idx.columns == ["id", "band", "bucket"]
        assert idx.count() == 16  # bands rows per doc

    def test_gramless_new_docs_are_skipped(self, spark):
        from super_speedy_syslog_searcher_spark.operators.dedup import (
            lsh_band_index,
            lsh_pairs_against_index,
        )

        index = lsh_band_index(self._docs(spark, [("1", self.BASE)]), k=64, bands=16)
        pairs, new_idx = lsh_pairs_against_index(
            self._docs(spark, [("2", "two words")]), index, k=64, bands=16
        )
        assert pairs.count() == 0 and new_idx.count() == 0


class TestDedupReport:
    def test_report_values(self, spark):
        from super_speedy_syslog_searcher_spark.operators.dedup import dedup_report

        docs = spark.createDataFrame(
            [("1", "a", 10), ("2", "a", 20), ("3", "a", 30),
             ("4", "b", 40), ("5", "b", 50)],
            "doc_id string, source string, n_tok int",
        )
        # cluster {1,2,4} keeper 1 (source a); 3 and 5 unclustered
        comps = spark.createDataFrame(
            [("1", "1"), ("2", "1"), ("4", "1")], "node string, cluster_id string"
        )
        rows = {r["source"]: r.asDict() for r in dedup_report(docs, comps).collect()}
        a, b = rows["a"], rows["b"]
        assert (a["n_docs"], a["n_dup_docs"], a["n_clusters"], a["n_dropped_docs"]) == (3, 2, 1, 1)
        assert a["dup_doc_frac"] == round(2 / 3, 4)
        assert a["dropped_weight_frac"] == round(20 / 60, 4)   # doc 2 dropped
        assert (b["n_docs"], b["n_dup_docs"], b["n_clusters"], b["n_dropped_docs"]) == (2, 1, 0, 1)
        assert b["dropped_weight_frac"] == round(40 / 90, 4)   # doc 4 dropped

    def test_doc_counting_mode_and_no_window(self, spark):
        from super_speedy_syslog_searcher_spark.operators.dedup import dedup_report

        docs = spark.createDataFrame(
            [("1", "a", 1), ("2", "a", 1)], "doc_id string, source string, n_tok int"
        )
        comps = spark.createDataFrame([("2", "2")], "node string, cluster_id string")
        out = dedup_report(docs, comps, weight_col=None)
        r = {x["source"]: x.asDict() for x in out.collect()}["a"]
        assert r["n_dropped_docs"] == 0 and r["n_clusters"] == 1
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
