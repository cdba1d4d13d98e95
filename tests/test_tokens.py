"""Sequence packing + vocab stats (operators/tokens.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.window import Window

from super_speedy_syslog_searcher_spark.operators.tokens import (
    _with_stream_start,
    assemble_sequences,
    pack_sequences,
    vocab_stats,
)


def _mk_docs(spark, spec):
    """spec: list of (doc_id, source, tokens)."""
    return spark.createDataFrame(
        [(d, s, t, len(t)) for d, s, t in spec],
        "doc_id string, source string, tokens array<int>, n_tok int",
    )


@pytest.fixture(scope="module")
def docs(spark):
    # two sources; doc lengths chosen to straddle max_len=10 boundaries
    spec = [
        ("a1", "s1", list(range(0, 7))),        # s1 stream [0,7)
        ("a2", "s1", list(range(100, 108))),    # [7,15) — spans seq 0/1
        ("a3", "s1", list(range(200, 226))),    # [15,41) — spans 1,2,3,4
        ("a4", "s1", [5]),                      # [41,42)
        ("b1", "s2", list(range(300, 303))),    # s2 [0,3)
        ("b2", "s2", list(range(400, 412))),    # [3,15)
    ]
    return _mk_docs(spark, spec), {d: t for d, _, t in spec}


class TestPackSequences:
    def test_chunks_tile_each_doc(self, spark, docs):
        df, toks = docs
        rows = pack_sequences(df, max_len=10).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for d, chunks in by_doc.items():
            chunks.sort(key=lambda r: r["tok_off"])
            assert chunks[0]["tok_off"] == 0
            pos = 0
            for c in chunks:
                assert c["tok_off"] == pos
                assert c["chunk_sum"] == sum(toks[d][pos : pos + c["chunk_len"]])
                pos += c["chunk_len"]
            assert pos == len(toks[d])
        assert set(by_doc) == set(toks)

    def test_sequences_fill_to_max_len(self, spark, docs):
        df, _ = docs
        rows = pack_sequences(df, max_len=10).collect()
        by_seq = {}
        for r in rows:
            by_seq.setdefault((r["source"], r["seq_id"]), []).append(r)
        last = {}
        for (src, sid), _chunks in by_seq.items():
            last[src] = max(last.get(src, -1), sid)
        for (src, sid), chunks in by_seq.items():
            chunks.sort(key=lambda r: r["seq_off"])
            pos = 0
            for c in chunks:
                assert c["seq_off"] == pos, "chunks must tile the sequence"
                pos += c["chunk_len"]
            if sid < last[src]:
                assert pos == 10
            else:
                assert 0 < pos <= 10
        # s1 stream = 42 tokens → seqs 0..4; s2 = 15 → seqs 0..1
        assert last == {"s1": 4, "s2": 1}

    def test_deterministic_across_runs(self, spark, docs):
        df, _ = docs
        a = sorted(map(tuple, pack_sequences(df, max_len=10).collect()))
        b = sorted(map(tuple, pack_sequences(df, max_len=10).collect()))
        assert a == b

    def test_empty_and_zero_tok_docs(self, spark):
        df = _mk_docs(spark, [("a", "s", [])])
        assert pack_sequences(df, max_len=10).count() == 0


class TestStreamStart:
    def test_two_phase_equals_plain_window(self, spark):
        # 40 docs, 2 sources, forced through MANY partitions so per-source
        # runs split across partitions (regression: AQE re-coalescing the
        # range exchange between the offsets job and the cumsum job used
        # to shift spark_partition_id and corrupt the base offsets)
        rows = [
            (f"d{i:03d}", f"s{i % 2}", list(range(i % 5 + 1)), i % 5 + 1) for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "doc_id string, source string, tokens array<int>, n_tok int"
        )
        two = {
            (r["source"], r["doc_id"]): r["start"]
            for r in _with_stream_start(df, num_partitions=12).collect()
        }
        w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        ref = {
            (r["source"], r["doc_id"]): r["s"]
            for r in df.select(
                "source", "doc_id", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("s")
            ).collect()
        }
        assert two == ref


class TestAssembleSequences:
    def test_token_equality_with_naive_concat(self, spark, docs):
        df, toks = docs
        got = {
            (r["source"], r["seq_id"]): list(r["tokens"])
            for r in assemble_sequences(df, max_len=10).collect()
        }
        order = {"s1": ["a1", "a2", "a3", "a4"], "s2": ["b1", "b2"]}
        for src, ids in order.items():
            stream = [t for d in ids for t in toks[d]]
            seqs = [stream[i : i + 10] for i in range(0, len(stream), 10)]
            for sid, want in enumerate(seqs):
                assert got[(src, sid)] == want, (src, sid)
        assert len(got) == sum(
            (sum(len(toks[d]) for d in ids) + 9) // 10 for src, ids in order.items()
        )

    def test_n_docs_counts_contributors(self, spark, docs):
        df, _ = docs
        rows = {
            (r["source"], r["seq_id"]): r["n_docs"]
            for r in assemble_sequences(df, max_len=10).collect()
        }
        # s1 seq0 = a1(7) + a2(3 of 8) → 2 docs; s1 seq4 = a3 tail + a4 → 2
        assert rows[("s1", 0)] == 2
        assert rows[("s1", 4)] == 2
        assert rows[("s2", 1)] == 1


class TestVocabStats:
    def test_counts(self, spark):
        df = _mk_docs(spark, [("a", "s", [1, 1, 2]), ("b", "s", [2, 3])])
        rows = {r["token"]: (r["n_occ"], r["n_docs"]) for r in vocab_stats(df).collect()}
        assert rows == {1: (2, 1), 2: (2, 2), 3: (1, 1)}


class TestBpePairStats:
    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, tokens array<int>")

    def test_counts_match_python_reference(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import bpe_pair_stats

        docs = [("a", [1, 2, 2, 3, 1, 2]), ("b", [2, 2, 2]), ("c", [7])]
        want = {}
        for doc_id, toks in docs:
            for l, r in zip(toks, toks[1:]):
                n_pairs, ids = want.get((l, r), (0, set()))
                ids.add(doc_id)
                want[(l, r)] = (n_pairs + 1, ids)
        got = {
            (r["left"], r["right"]): (r["n_pairs"], r["n_docs"])
            for r in bpe_pair_stats(self._mk(spark, docs)).collect()
        }
        assert got == {k: (n, len(ids)) for k, (n, ids) in want.items()}

    def test_single_token_and_empty_docs_yield_nothing(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import bpe_pair_stats

        out = bpe_pair_stats(self._mk(spark, [("a", [5]), ("b", [])]))
        assert out.count() == 0

    def test_no_python_stage_in_plan(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import bpe_pair_stats

        plan = (
            bpe_pair_stats(self._mk(spark, [("a", [1, 2])]))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan and "HashAggregate" in plan


class TestPackRandomizedReference:
    def test_random_corpus_matches_python_reference(self, spark):
        """Seeded random doc lengths (incl. 0, 1, max_len-1, max_len,
        max_len+1, multi-sequence docs) across 3 sources: the distributed
        chunk map must equal the straightforward sequential packing."""
        import random

        rng = random.Random(1234)
        MAX_LEN = 64
        special = [0, 1, MAX_LEN - 1, MAX_LEN, MAX_LEN + 1, 3 * MAX_LEN + 7]
        docs = []
        for s in range(3):
            lens = special + [rng.randrange(0, 3 * MAX_LEN) for _ in range(40)]
            rng.shuffle(lens)
            for i, n in enumerate(lens):
                toks = [rng.randrange(0, 1000) for _ in range(n)]
                docs.append((f"s{s}/d{i:04d}", f"s{s}", toks, n))

        # python reference: sequential per-source stream
        want = set()
        for src in sorted({d[1] for d in docs}):
            start = 0
            for doc_id, _, toks, n in sorted((d for d in docs if d[1] == src)):
                if n == 0:
                    continue
                first, last = start // MAX_LEN, (start + n - 1) // MAX_LEN
                for s in range(first, last + 1):
                    g0, g1 = max(start, s * MAX_LEN), min(start + n, (s + 1) * MAX_LEN)
                    want.add((
                        src, s, doc_id, g0 - start, g0 - s * MAX_LEN, g1 - g0,
                        sum(toks[g0 - start : g1 - start]),
                    ))
                start += n

        df = spark.createDataFrame(
            docs, "doc_id string, source string, tokens array<int>, n_tok int"
        ).repartition(7)  # misaligned partitioning: prefix sum must still hold
        got = {
            tuple(r)
            for r in pack_sequences(df, max_len=MAX_LEN)
            .select("source", "seq_id", "doc_id", "tok_off", "seq_off", "chunk_len", "chunk_sum")
            .collect()
        }
        assert got == want

        # assembled rows agree with the chunk map: full tiling, no gaps
        asm = {
            (r["source"], r["seq_id"]): (r["n_tok"], list(r["tokens"]))
            for r in assemble_sequences(df, max_len=MAX_LEN).collect()
        }
        per_source = {}
        for src, s, doc_id, tok_off, seq_off, clen, csum in want:
            per_source.setdefault((src, s), 0)
            per_source[(src, s)] += clen
        assert {k: v[0] for k, v in asm.items()} == per_source
        for (src, s), (n_tok, toks) in asm.items():
            last = max(q for (t, q) in per_source if t == src)
            assert n_tok == MAX_LEN or s == last


class TestTemperatureTargets:
    """temperature_targets — alpha-temperature mixture targets with
    integer largest-remainder apportionment."""

    def _run(self, spark, sizes, **kw):
        from super_speedy_syslog_searcher_spark.operators.tokens import (
            temperature_targets,
        )

        rows = [
            (f"d{i}", src, list(range(n)), n)
            for i, (src, n) in enumerate(sizes)
        ]
        df = spark.createDataFrame(
            rows, "doc_id string, source string, tokens array<int>, n_tok int"
        )
        return {r["source"]: r for r in temperature_targets(df, **kw).collect()}

    def test_matches_python_reference(self, spark):
        import math

        sizes = [("a", 900), ("a", 100), ("b", 400), ("c", 25), ("d", 7)]
        per = {}
        for s, n in sizes:
            per[s] = per.get(s, 0) + n
        w = {s: math.isqrt(n) for s, n in per.items()}
        W = sum(w.values())
        base = {s: w[s] * 1_000_000 // W for s in w}
        rem = {s: w[s] * 1_000_000 % W for s in w}
        deficit = 1_000_000 - sum(base.values())
        order = sorted(w, key=lambda s: (-rem[s], s))
        want = {
            s: base[s] + (1 if order.index(s) < deficit else 0) for s in w
        }
        got = self._run(spark, sizes)
        for s in w:
            assert got[s]["target_ppm"] == want[s], s
            assert got[s]["w"] == w[s], s
            assert got[s]["n_tok_total"] == per[s], s

    def test_ppm_sums_to_total_exactly(self, spark):
        got = self._run(spark, [("a", 123), ("b", 457), ("c", 89), ("d", 3011)])
        assert sum(r["target_ppm"] for r in got.values()) == 1_000_000

    def test_alpha_half_upsamples_low_resource(self, spark):
        # raw shares: a = 99%, b = 1%; sqrt temperature must pull b's
        # target share strictly above its raw share and a's below
        got = self._run(spark, [("a", 9900), ("b", 100)])
        assert got["b"]["target_ppm"] > 10_000
        assert got["a"]["target_ppm"] < 990_000

    def test_alpha_one_is_proportional(self, spark):
        # alpha=1: w = floor(n^1) = n → targets = exact raw shares
        got = self._run(spark, [("a", 750), ("b", 250)], alpha=1.0)
        assert got["a"]["target_ppm"] == 750_000
        assert got["b"]["target_ppm"] == 250_000

    def test_zero_token_corpus_degenerates_to_zero(self, spark):
        got = self._run(spark, [("a", 0), ("b", 0)])
        assert all(r["target_ppm"] == 0 for r in got.values())


class TestBigramLogprob:
    def test_matches_python_reference(self, spark):
        import hashlib
        import math

        from super_speedy_syslog_searcher_spark.operators.tokens import bigram_logprob

        B = 64
        docs = [("a", [1, 2, 3, 1, 2]), ("b", [9, 9, 9]), ("c", [5])]

        def bucket(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % B

        feats = []
        for doc_id, toks in docs:
            for l, r in zip(toks, toks[1:]):
                feats.append((doc_id, bucket(f"{l},{r}"), bucket(str(l))))
        cp, cu = {}, {}
        for _, pb, ub in feats:
            cp[pb] = cp.get(pb, 0) + 1
            cu[ub] = cu.get(ub, 0) + 1
        want = {}
        for doc_id, _ in docs:
            lps = [math.log((cp[pb] + 1) / (cu[ub] + B))
                   for d, pb, ub in feats if d == doc_id]
            if lps:
                m = sum(lps) / len(lps)
                want[doc_id] = (len(lps), round(m, 4), round(math.exp(-m), 4))

        df = spark.createDataFrame(
            [(d, "s", t, len(t)) for d, t in docs],
            "doc_id string, source string, tokens array<int>, n_tok int",
        )
        got = {r["doc_id"]: (r["n_bigrams"], r["mean_logprob"], r["ppl"])
               for r in bigram_logprob(df, n_buckets=B).collect()}
        assert got == want  # doc "c" (1 token) absent from both

    def test_common_bigrams_score_higher(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import bigram_logprob

        docs = [(f"common{i}", "s", [1, 2] * 10, 20) for i in range(5)]
        docs.append(("rare", "s", [7, 8, 9, 10, 11, 12], 6))
        df = spark.createDataFrame(
            docs, "doc_id string, source string, tokens array<int>, n_tok int"
        )
        rows = {r["doc_id"]: r["mean_logprob"] for r in bigram_logprob(df).collect()}
        assert rows["common0"] > rows["rare"]

    def test_count_tables_are_broadcast(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import bigram_logprob

        df = spark.createDataFrame(
            [("a", "s", [1, 2, 3], 3)],
            "doc_id string, source string, tokens array<int>, n_tok int",
        )
        plan = bigram_logprob(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 2


class TestStupidBackoff:
    """Trigram Stupid Backoff (Brants et al. 2007) — hashed, pruned."""

    B, MC, AL = 256, 2, 0.4

    def _twin(self, docs):
        """Sequential textbook implementation over the same hash space."""
        import hashlib
        import math
        from collections import Counter

        def hb(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % self.B

        tcnt, bcnt, ucnt = Counter(), Counter(), Counter()
        n_total = 0
        for _, toks in docs:
            for i in range(len(toks) - 2):
                tcnt[hb(f"{toks[i]},{toks[i+1]},{toks[i+2]}")] += 1
            for i in range(len(toks) - 1):
                bcnt[hb(f"{toks[i]},{toks[i+1]}")] += 1
            for w in toks:
                ucnt[hb(str(w))] += 1
                n_total += 1
        want = {}
        for doc_id, toks in docs:
            if len(toks) < 3:
                continue
            ss, backed = [], 0
            for i in range(len(toks) - 2):
                tb = hb(f"{toks[i]},{toks[i+1]},{toks[i+2]}")
                cb = hb(f"{toks[i]},{toks[i+1]}")
                bb = hb(f"{toks[i+1]},{toks[i+2]}")
                if tcnt[tb] >= self.MC:
                    s = math.log(tcnt[tb] / bcnt[cb])
                else:
                    backed += 1
                    if bcnt[bb] >= self.MC:
                        s = math.log(self.AL * bcnt[bb] / ucnt[hb(str(toks[i + 1]))])
                    else:
                        s = math.log(self.AL**2 * ucnt[hb(str(toks[i + 2]))] / n_total)
                ss.append(s)
            m = sum(ss) / len(ss)
            want[doc_id] = (
                len(ss), round(m, 4), round(math.exp(-m), 4), round(backed / len(ss), 4)
            )
        return want

    def test_matches_python_reference(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import (
            stupid_backoff_logprob,
        )

        docs = [
            ("a", [1, 2, 3, 1, 2, 3, 1, 2, 3]),   # frequent trigram (1,2,3)
            ("b", [1, 2, 3, 4, 5, 6]),            # shares (1,2,3), then rare tail
            ("c", [7, 8]),                        # < 3 tokens → no row
            ("d", [9, 10, 11, 9, 10, 12]),        # rare trigrams → backs off
            ("e", [1, 2, 3, 1, 2, 3]),
        ]
        df = spark.createDataFrame(
            [(d, "s", t, len(t)) for d, t in docs],
            "doc_id string, source string, tokens array<int>, n_tok int",
        )
        got = {
            r["doc_id"]: (
                r["n_trigrams"], r["sb_mean_logprob"], r["sb_ppl"], r["sb_backoff_frac"]
            )
            for r in stupid_backoff_logprob(
                df, n_buckets=self.B, min_count=self.MC
            ).collect()
        }
        assert got == self._twin(docs)

    def test_backoff_fires_only_on_rare_trigrams(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import (
            stupid_backoff_logprob,
        )

        docs = [(f"r{i}", "s", [1, 2, 3, 4, 5], 5) for i in range(4)]
        docs.append(("lone", "s", [50, 60, 70, 80], 4))  # trigrams seen once
        df = spark.createDataFrame(
            docs, "doc_id string, source string, tokens array<int>, n_tok int"
        )
        rows = {
            r["doc_id"]: r["sb_backoff_frac"]
            for r in stupid_backoff_logprob(df, n_buckets=4096).collect()
        }
        assert rows["r0"] == 0.0        # repeated corpus trigrams retained
        assert rows["lone"] == 1.0      # pruned → every trigram backs off
        scores = {
            r["doc_id"]: r["sb_mean_logprob"]
            for r in stupid_backoff_logprob(df, n_buckets=4096).collect()
        }
        assert scores["r0"] > scores["lone"]

    def test_degenerate_inputs(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import (
            stupid_backoff_logprob,
        )

        schema = "doc_id string, source string, tokens array<int>, n_tok int"
        assert stupid_backoff_logprob(spark.createDataFrame([], schema)).count() == 0
        short = spark.createDataFrame([("a", "s", [1, 2], 2)], schema)
        assert stupid_backoff_logprob(short).count() == 0  # < 3 tokens

    def test_fast_hash_same_shape_and_semantics(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import (
            stupid_backoff_logprob,
        )

        docs = [(f"r{i}", "s", [1, 2, 3, 4, 5], 5) for i in range(4)]
        docs.append(("lone", "s", [50, 60, 70, 80], 4))
        df = spark.createDataFrame(
            docs, "doc_id string, source string, tokens array<int>, n_tok int"
        )
        slow = stupid_backoff_logprob(df, n_buckets=4096)
        fast = stupid_backoff_logprob(df, n_buckets=4096, fast_hash=True)
        assert fast.schema == slow.schema
        rows_f = {r["doc_id"]: r for r in fast.collect()}
        rows_s = {r["doc_id"]: r for r in slow.collect()}
        assert set(rows_f) == set(rows_s)
        # structural stats are hash-independent; only bucket ids moved
        for d in rows_f:
            assert rows_f[d]["n_trigrams"] == rows_s[d]["n_trigrams"]
        # semantics survive the hash swap: repeated trigrams retained,
        # singletons pruned -> full backoff
        assert rows_f["r0"]["sb_backoff_frac"] == 0.0
        assert rows_f["lone"]["sb_backoff_frac"] == 1.0
        assert rows_f["r0"]["sb_mean_logprob"] > rows_f["lone"]["sb_mean_logprob"]

    def test_count_tables_are_broadcast_and_stream_never_shuffles_on_ngrams(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import (
            stupid_backoff_logprob,
        )

        df = spark.createDataFrame(
            [("a", "s", [1, 2, 3, 4], 4)],
            "doc_id string, source string, tokens array<int>, n_tok int",
        )
        plan = (
            stupid_backoff_logprob(df)._jdf.queryExecution().executedPlan().toString()
        )
        # 5 lookup joins (tri, ctx-bigram, backoff-bigram, 2× unigram) all broadcast
        assert plan.count("BroadcastHashJoin") >= 5
        assert "SortMergeJoin" not in plan


class TestTrainBpe:
    """Distributed BPE training must reproduce the textbook sequential
    algorithm exactly: same merge table (greedy most-frequent pair,
    ties to smallest (left, right)), same rewritten corpus."""

    @staticmethod
    def _python_bpe(docs, num_merges, min_freq=2):
        from collections import Counter

        docs = {d: list(t) for d, t in docs}
        next_id = max((max(t) for t in docs.values() if t), default=-1) + 1
        merges = []
        for rnd in range(num_merges):
            counts = Counter()
            for t in docs.values():
                i = 0
                while i < len(t) - 1:
                    counts[(t[i], t[i + 1])] += 1
                    i += 1
            counts = {p: c for p, c in counts.items() if c >= min_freq}
            if not counts:
                break
            # max count, ties -> smallest pair
            pair = min(counts, key=lambda p: (-counts[p], p))
            merges.append((rnd, pair[0], pair[1], next_id, counts[pair]))
            for d, t in docs.items():
                out, i = [], 0
                while i < len(t):
                    if i < len(t) - 1 and (t[i], t[i + 1]) == pair:
                        out.append(next_id)
                        i += 2
                    else:
                        out.append(t[i])
                        i += 1
                docs[d] = out
            next_id += 1
        return merges, docs

    def test_matches_python_reference(self, spark):
        import random

        from super_speedy_syslog_searcher_spark.operators.tokens import train_bpe

        rng = random.Random(11)
        rows = []
        for i in range(40):
            # small alphabet so pairs repeat; lengths 0..30 incl. empties
            n = rng.randrange(0, 31)
            rows.append((f"d{i:03d}", [rng.randrange(8) for _ in range(n)]))
        # a run of repeats exercises the overlapping-match (aaa) path
        rows.append(("runs", [5] * 17 + [2, 5, 5, 5]))

        df = spark.createDataFrame(
            [(d, t, len(t), "s") for d, t in rows],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        got_merges, got_docs = train_bpe(df, num_merges=10, min_freq=2)
        want_merges, want_docs = self._python_bpe(rows, num_merges=10, min_freq=2)

        assert got_merges == want_merges
        got = {r["doc_id"]: list(r["tokens"]) for r in got_docs.collect()}
        assert got == want_docs

    def test_early_stop_below_min_freq(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import train_bpe

        df = spark.createDataFrame(
            [("a", [1, 2, 3], 3, "s"), ("b", [4, 5, 6], 3, "s")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        merges, out = train_bpe(df, num_merges=5, min_freq=2)  # every pair unique
        assert merges == []
        assert {tuple(r["tokens"]) for r in out.collect()} == {(1, 2, 3), (4, 5, 6)}


class TestApplyBpe:
    def test_roundtrip_reproduces_training_corpus(self, spark):
        """Encoding the raw corpus with the learned merge table must equal
        training's own rewritten corpus — the train/inference invariant."""
        import random

        from super_speedy_syslog_searcher_spark.operators.tokens import apply_bpe, train_bpe

        rng = random.Random(23)
        rows = [
            (f"d{i:03d}", [rng.randrange(6) for _ in range(rng.randrange(0, 25))])
            for i in range(30)
        ] + [("runs", [3] * 11)]
        df = spark.createDataFrame(
            [(d, t, len(t), "s") for d, t in rows],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        merges, trained = train_bpe(df, num_merges=6, min_freq=2)
        assert merges  # the corpus has repeating pairs
        encoded = apply_bpe(df, merges)
        got = {r["doc_id"]: list(r["tokens"]) for r in encoded.collect()}
        want = {r["doc_id"]: list(r["tokens"]) for r in trained.collect()}
        assert got == want

    def test_single_python_stage(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import apply_bpe

        df = spark.createDataFrame(
            [("a", [1, 1, 2], 3, "s")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        plan = (
            apply_bpe(df, [(1, 1, 9), (9, 2, 10)])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("ArrowEvalPython") == 1  # whole table, one stage
        assert [list(r["tokens"]) for r in apply_bpe(df, [(1, 1, 9), (9, 2, 10)]).collect()] == [[10]]


class TestSampleToMixture:
    """sample_to_mixture / mixture_sample_stats — exact integer keep rule."""

    def _corpus(self, spark, n_per=60, seed_sizes=(5, 9, 14, 23)):
        rows = []
        for si, src in enumerate(["a", "b", "c"]):
            for i in range(n_per):
                n = seed_sizes[(si * 7 + i) % len(seed_sizes)] + (i % 5)
                rows.append((f"{src}-doc{i:04d}", src, [0] * n, n))
        return spark.createDataFrame(
            rows, "doc_id string, source string, tokens array<int>, n_tok int"
        ), rows

    @staticmethod
    def _py_reference(rows, targets_ppm, n_buckets):
        """Pure-Python twin of the exact integer rule."""
        import hashlib
        from fractions import Fraction

        totals = {}
        for _, src, _, n in rows:
            totals[src] = totals.get(src, 0) + n
        per = sorted((s, n) for s, n in totals.items() if targets_ppm.get(s, 0) > 0)
        _, nb, pb = min(
            ((s, n, targets_ppm[s]) for s, n in per),
            key=lambda x: (Fraction(x[1], x[2]), x[0]),
        )
        thr = {}
        for s, n in per:
            ppm = targets_ppm[s]
            thr[s] = 0 if (nb == 0 or n == 0) else (ppm * nb * n_buckets + pb * n - 1) // (pb * n)
        kept = set()
        for doc_id, src, _, _ in rows:
            if src not in thr:
                continue
            b = int(hashlib.md5(doc_id.encode()).hexdigest()[:8], 16) % n_buckets
            if b < thr[src]:
                kept.add(doc_id)
        return thr, kept

    def test_kept_set_matches_python_reference_exactly(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import (
            mixture_sample_stats,
            sample_to_mixture,
        )

        targets = {"a": 500_000, "b": 300_000, "c": 200_000}
        nb = 1_000_000
        df, rows = self._corpus(spark)
        thr, kept = self._py_reference(rows, targets, nb)
        got = {r["doc_id"] for r in sample_to_mixture(df, targets, n_buckets=nb).collect()}
        assert got == kept
        stats = {r["source"]: r for r in mixture_sample_stats(df, targets, n_buckets=nb).collect()}
        for s, k in thr.items():
            assert stats[s]["keep_buckets"] == k
        # achieved counts tie to the reference kept set
        from collections import Counter

        want_docs = Counter(src for d, src, _, _ in rows if d in kept)
        for s in thr:
            assert stats[s]["n_docs_kept"] == want_docs.get(s, 0)

    def test_binding_source_keeps_everything(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import (
            mixture_sample_stats,
            sample_to_mixture,
        )

        # equal corpus sizes, skewed targets → the LOW-share source binds
        df, rows = self._corpus(spark)
        targets = {"a": 800_000, "b": 100_000, "c": 100_000}
        stats = {r["source"]: r for r in mixture_sample_stats(df, targets).collect()}
        binding = min(
            stats, key=lambda s: (stats[s]["n_tok_total"] / (targets[s] / 1e6), s)
        )
        assert stats[binding]["keep_buckets"] == 1_000_000
        sampled = sample_to_mixture(df, targets)
        n_bind = sampled.filter(F.col("source") == binding).count()
        assert n_bind == sum(1 for _, s, _, _ in rows if s == binding)

    def test_thresholds_agree_with_float_rates(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import (
            mixture_sample_stats,
        )

        df, rows = self._corpus(spark)
        ppm = {"a": 450_000, "b": 350_000, "c": 200_000}
        stats = {r["source"]: r for r in mixture_sample_stats(df, ppm).collect()}
        # float rates: rate_s = share_s * T / n_tok_s, T = min_s n_tok_s / share_s
        n_tok = {s: sum(n for _, src, _, n in rows if src == s) for s in ppm}
        budget = min(n_tok[s] / (ppm[s] / 1e6) for s in ppm)
        rates = {s: round(ppm[s] / 1e6 * budget / n_tok[s], 6) for s in ppm}
        for s, r in rates.items():
            assert abs(stats[s]["keep_buckets"] / 1_000_000 - r) <= 3e-6

    def test_partition_layout_independence(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import sample_to_mixture

        targets = {"a": 600_000, "b": 250_000, "c": 150_000}
        df, _ = self._corpus(spark)
        one = {r["doc_id"] for r in sample_to_mixture(df.repartition(1), targets).collect()}
        many = {r["doc_id"] for r in sample_to_mixture(df.repartition(13), targets).collect()}
        assert one == many and one

    def test_no_targets_yields_empty(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import (
            mixture_sample_stats,
            sample_to_mixture,
        )

        df, _ = self._corpus(spark)
        assert sample_to_mixture(df, {}).count() == 0
        assert mixture_sample_stats(df, {}).count() == 0


class TestGlobalShuffle:
    def _docs(self, spark, n=200):
        return spark.createDataFrame(
            [(f"doc{i:05d}",) for i in range(n)], "doc_id string"
        )

    def test_matches_single_window_permutation(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import global_shuffle

        df = self._docs(spark)
        got = {r["doc_id"]: r["shuffle_rank"] for r in global_shuffle(df, seed="t1").collect()}
        ref = (
            df.withColumn("k", F.md5(F.concat_ws(":", F.lit("t1"), F.col("doc_id"))))
            .withColumn("rank", F.row_number().over(Window.orderBy("k", "doc_id")) - 1)
        )
        want = {r["doc_id"]: r["rank"] for r in ref.collect()}
        assert got == want
        assert sorted(got.values()) == list(range(len(got)))

    def test_partition_count_invariance(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import global_shuffle

        df = self._docs(spark, n=157)
        a = {r["doc_id"]: r["shuffle_rank"] for r in global_shuffle(df, "s", num_partitions=3).collect()}
        b = {r["doc_id"]: r["shuffle_rank"] for r in global_shuffle(df, "s", num_partitions=16).collect()}
        assert a == b

    def test_different_seed_different_order(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import global_shuffle

        df = self._docs(spark, n=100)
        a = {r["doc_id"]: r["shuffle_rank"] for r in global_shuffle(df, "s1").collect()}
        b = {r["doc_id"]: r["shuffle_rank"] for r in global_shuffle(df, "s2").collect()}
        assert a != b
        assert sorted(a.values()) == sorted(b.values())


class TestPerplexityBuckets:
    def _scored(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, source string, ppl double")

    def test_tertile_rule_matches_python_reference(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import perplexity_buckets

        rows = [
            (f"d{s}{i:03d}", s, float(v))
            for s in ("x", "y")
            for i, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7])
        ]
        got = {
            (r["doc_id"]): r["ppl_bucket"]
            for r in perplexity_buckets(self._scored(spark, rows)).collect()
        }
        # python reference: t_k = smallest v with (#<=v)*3 >= k*total
        import collections

        by_src = collections.defaultdict(list)
        for d, s, v in rows:
            by_src[s].append(v)
        want = {}
        for s, vals in by_src.items():
            sv = sorted(vals)
            n = len(sv)
            t1 = min(v for v in sv if sum(1 for x in sv if x <= v) * 3 >= n)
            t2 = min(v for v in sv if sum(1 for x in sv if x <= v) * 3 >= 2 * n)
            for d, s2, v in rows:
                if s2 == s:
                    want[d] = "head" if v <= t1 else ("middle" if v <= t2 else "tail")
        assert got == want

    def test_buckets_are_ordered_and_balanced_on_distinct_values(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import perplexity_buckets

        rows = [(f"d{i:03d}", "s", float(i) * 0.125 + 1.0) for i in range(99)]
        out = perplexity_buckets(self._scored(spark, rows)).collect()
        by_bucket = {}
        for r in out:
            by_bucket.setdefault(r["ppl_bucket"], []).append(r["ppl"])
        assert {len(v) for v in by_bucket.values()} == {33}
        assert max(by_bucket["head"]) < min(by_bucket["middle"]) < max(by_bucket["middle"]) < min(by_bucket["tail"])

    def test_threshold_table_is_broadcast(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import perplexity_buckets

        rows = [(f"d{i:03d}", "s", float(i % 17)) for i in range(60)]
        plan = perplexity_buckets(self._scored(spark, rows))._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestDocStarts:
    def test_doc_starts_mark_document_beginnings(self, spark, docs):
        df, spec = docs
        out = {
            (r["source"], r["seq_id"]): r["doc_starts"]
            for r in assemble_sequences(df, max_len=10).collect()
        }
        # python reference: concatenate per source in doc_id order,
        # record each doc's global start, map to (seq, offset)
        import collections

        by_src = collections.defaultdict(list)
        for r in df.select("doc_id", "source", "n_tok").collect():
            by_src[r["source"]].append((r["doc_id"], r["n_tok"]))
        want = collections.defaultdict(list)
        for src, rows in by_src.items():
            pos = 0
            for _, n in sorted(rows):
                if n == 0:
                    continue
                want[(src, pos // 10)].append(pos % 10)
                pos += n
        for k, starts in out.items():
            assert sorted(starts) == sorted(want.get(k, [])), k
        # a sequence that begins mid-document must not list offset 0:
        # s1 doc a3 spans seqs 1-4, so seqs 2 and 3 start mid-doc
        assert 0 not in out[("s1", 2)]
        assert out[("s1", 3)] == []


class TestFimTransform:
    def _docs(self, spark, n=40):
        rows = [(f"d{i:03d}", list(range(i % 7 + 1))) for i in range(n)]
        return spark.createDataFrame(rows, "doc_id string, tokens array<int>").withColumn(
            "n_tok", F.size("tokens")
        ), dict(rows)

    @staticmethod
    def _py_fim(doc_id, toks, rate_ppm, seed, mode):
        import hashlib

        h = hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()
        if int(h[0:8], 16) % 1_000_000 >= rate_ppm:
            return toks, False
        L = len(toks)
        a = int(h[8:16], 16) % (L + 1)
        b = int(h[16:24], 16) % (L + 1)
        s1, s2 = min(a, b), max(a, b)
        pre, mid, suf = toks[:s1], toks[s1:s2], toks[s2:]
        if mode == "psm":
            return [-1] + pre + [-2] + suf + [-3] + mid, True
        return [-1, -2] + suf + [-3] + pre + mid, True

    @pytest.mark.parametrize("mode", ["psm", "spm"])
    def test_matches_python_reference(self, spark, mode):
        from super_speedy_syslog_searcher_spark.operators.tokens import fim_transform

        df, orig = self._docs(spark)
        out = fim_transform(df, rate_ppm=600_000, seed="t", mode=mode)
        for r in out.collect():
            want, applied = self._py_fim(r["doc_id"], orig[r["doc_id"]], 600_000, "t", mode)
            assert r["tokens"] == want, r["doc_id"]
            assert r["fim_applied"] == applied
            assert r["n_tok"] == len(want)

    def test_rate_edges(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import fim_transform

        df, orig = self._docs(spark)
        none = fim_transform(df, rate_ppm=0)
        assert none.filter(F.col("fim_applied")).count() == 0
        assert all(r["tokens"] == orig[r["doc_id"]] for r in none.collect())
        allr = fim_transform(df, rate_ppm=1_000_000)
        assert allr.filter(~F.col("fim_applied")).count() == 0
        # every rewritten doc carries exactly the 3 sentinels + original tokens
        for r in allr.collect():
            assert len(r["tokens"]) == len(orig[r["doc_id"]]) + 3
            assert sorted(r["tokens"]) == sorted(orig[r["doc_id"]] + [-1, -2, -3])

    def test_map_only_plan(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import fim_transform

        df, _ = self._docs(spark)
        plan = fim_transform(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_bad_mode_rejected(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import fim_transform

        df, _ = self._docs(spark)
        with pytest.raises(ValueError):
            fim_transform(df, mode="smp")


class TestBestfitPacking:
    def _docs(self, spark, lens):
        rows = [(f"d{i:04d}", [0] * n, n) for i, n in enumerate(lens)]
        return spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int"
        )

    @staticmethod
    def _py_reference(lens, max_len):
        """Full python twin of the histogram-BFD packing + rank assignment."""
        from super_speedy_syslog_searcher_spark.operators.tokens import _bfd_compositions

        pieces = []  # (doc_id, chunk_no, tok_off, length)
        for i, n in enumerate(lens):
            if n <= 0:
                continue
            d = f"d{i:04d}"
            for c in range((n + max_len - 1) // max_len):
                pieces.append((d, c, c * max_len, min(max_len, n - c * max_len)))
        hist = {}
        for _, _, _, L in pieces:
            hist[L] = hist.get(L, 0) + 1
        comps = _bfd_compositions(hist, max_len)
        # per-length rank ordered by (doc_id, chunk_no)
        by_len = {}
        for d, c, o, L in sorted(pieces):
            by_len.setdefault(L, []).append((d, c, o))
        out = {}
        bin_base = 0
        consumed = {L: 0 for L in hist}
        for comp, m in comps:
            slot = 0
            for L, k in comp:
                for j in range(m * k):
                    d, c, o = by_len[L][consumed[L] + j]
                    out[(d, c)] = (o, L, bin_base + j // k, slot + (j % k) * L)
                consumed[L] += m * k
                slot += k * L
            bin_base += m
        return out

    def test_matches_python_reference_exactly(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import pack_sequences_bestfit

        lens = [(i * 37) % 120 + 1 for i in range(150)] + [700, 1300]  # incl. oversize
        want = self._py_reference(lens, max_len=128)
        got = {
            (r["doc_id"], r["chunk_no"]): (r["tok_off"], r["length"], r["bin_id"], r["bin_off"])
            for r in pack_sequences_bestfit(self._docs(spark, lens), max_len=128).collect()
        }
        assert got == want

    def test_bins_valid_and_tight(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import pack_sequences_bestfit

        lens = [(i * 53) % 300 + 1 for i in range(200)]
        out = pack_sequences_bestfit(self._docs(spark, lens), max_len=512).collect()
        bins = {}
        for r in out:
            bins.setdefault(r["bin_id"], []).append((r["bin_off"], r["length"]))
        total = sum(lens)
        # every bin within capacity, slots non-overlapping
        for slots in bins.values():
            assert sum(L for _, L in slots) <= 512
            slots.sort()
            for (o1, l1), (o2, _) in zip(slots, slots[1:]):
                assert o1 + l1 <= o2
        # bin count within 15% of the fractional lower bound (BFD quality)
        import math

        assert len(bins) <= math.ceil(total / 512 * 1.15) + 1
        # and strictly better than one-doc-per-bin
        assert len(bins) < len(lens)

    def test_all_pieces_assigned_once_and_tile_docs(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import pack_sequences_bestfit

        lens = [5, 512, 513, 1024, 1, 300]
        out = pack_sequences_bestfit(self._docs(spark, lens), max_len=512).collect()
        per_doc = {}
        for r in out:
            per_doc.setdefault(r["doc_id"], []).append((r["tok_off"], r["length"]))
        for i, n in enumerate(lens):
            parts = sorted(per_doc[f"d{i:04d}"])
            assert parts[0][0] == 0
            pos = 0
            for o, L in parts:
                assert o == pos
                pos += L
            assert pos == n

    def test_partition_layout_invariance(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import pack_sequences_bestfit

        lens = [(i * 29) % 90 + 1 for i in range(120)]
        df = self._docs(spark, lens)
        a = {tuple(r) for r in pack_sequences_bestfit(df.repartition(1), max_len=100).collect()}
        b = {tuple(r) for r in pack_sequences_bestfit(df.repartition(9), max_len=100).collect()}
        assert a == b

    def test_empty_input(self, spark):
        from super_speedy_syslog_searcher_spark.operators.tokens import pack_sequences_bestfit

        df = self._docs(spark, [])
        assert pack_sequences_bestfit(df, max_len=64).count() == 0


class TestAssembleWithLossMask:
    """assemble_sequences(mask_spans=...) — packed loss-mask contract."""

    def _spans(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, beg int, end int")

    def test_mask_aligns_with_doc_positions_across_boundaries(self, spark):
        # stream s1: a1 [0,7) a2 [7,15) a3 [15,41) a4 [41,42); max_len 10
        spec = [
            ("a1", "s1", list(range(0, 7))),
            ("a2", "s1", list(range(100, 108))),
            ("a3", "s1", list(range(200, 226))),
            ("a4", "s1", [5]),
        ]
        df = _mk_docs(spark, spec)
        # a2 tokens [2,6) masked -> global stream [9,13): straddles seq 0/1
        # a3 tokens [0,3) masked -> global [15,18) inside seq 1
        spans = self._spans(spark, [("a2", 2, 6), ("a3", 0, 3)])
        got = {
            r["seq_id"]: r
            for r in assemble_sequences(df, max_len=10, mask_spans=spans).collect()
        }
        toks = {d: t for d, _, t in spec}
        stream = [t for d in ("a1", "a2", "a3", "a4") for t in toks[d]]
        masked_global = set(range(9, 13)) | set(range(15, 18))
        for sid, r in got.items():
            base = sid * 10
            assert list(r["tokens"]) == stream[base : base + 10]
            assert len(r["loss_mask"]) == r["n_tok"]
            want = [0 if base + i in masked_global else 1 for i in range(r["n_tok"])]
            assert list(r["loss_mask"]) == want, sid
            assert r["n_masked"] == want.count(0)

    def test_overlapping_spans_union_and_unspanned_docs_all_ones(self, spark):
        spec = [("d1", "s", list(range(10))), ("d2", "s", list(range(50, 58)))]
        df = _mk_docs(spark, spec)
        spans = self._spans(spark, [("d1", 2, 6), ("d1", 4, 8)])
        rows = assemble_sequences(df, max_len=100, mask_spans=spans).collect()
        assert len(rows) == 1
        m = list(rows[0]["loss_mask"])
        assert m == [1, 1, 0, 0, 0, 0, 0, 0, 1, 1] + [1] * 8
        assert rows[0]["n_masked"] == 6

    def test_without_spans_output_unchanged(self, spark):
        spec = [("d1", "s", list(range(10)))]
        df = _mk_docs(spark, spec)
        cols = assemble_sequences(df, max_len=4).columns
        assert "loss_mask" not in cols and "n_masked" not in cols


class TestLossMaskProperty:
    """Property test: assemble_sequences(mask_spans=...) vs a sequential
    python packer over randomized corpora, spans included degenerate
    (empty, out-of-range, overlapping)."""

    def test_random_corpora_match_python_packer(self, spark):
        import random

        from super_speedy_syslog_searcher_spark.operators.tokens import (
            assemble_sequences,
        )

        for seed in range(6):
            rng = random.Random(seed)
            max_len = rng.choice([4, 7, 10])
            docs, spans = [], []
            for i in range(rng.randint(3, 10)):
                src = f"s{rng.randint(0, 1)}"
                n = rng.randint(0, 3 * max_len)
                toks = [rng.randint(0, 500) for _ in range(n)]
                did = f"d{i:04d}"
                docs.append((did, src, toks, n))
                for _ in range(rng.randint(0, 2)):
                    beg = rng.randint(0, n + 2)
                    end = rng.randint(beg, beg + max_len)
                    spans.append((did, beg, end))
            df = spark.createDataFrame(
                docs, "doc_id string, source string, tokens array<int>, n_tok int"
            )
            sp = spark.createDataFrame(spans or [("none", 0, 0)],
                                       "doc_id string, beg int, end int")
            got = {
                (r["source"], r["seq_id"]): (
                    list(r["tokens"]), list(r["loss_mask"]), list(r["doc_starts"])
                )
                for r in assemble_sequences(df, max_len=max_len, mask_spans=sp).collect()
            }

            # python reference packer
            want = {}
            by_src = {}
            for did, src, toks, n in sorted(docs):
                if n > 0:
                    by_src.setdefault(src, []).append((did, toks))
            for src, items in by_src.items():
                stream, mask, starts = [], [], []
                for did, toks in items:
                    masked = set()
                    for sd, b, e in spans:
                        if sd == did:
                            masked |= set(range(b, min(e, len(toks))))
                    starts.append(len(stream))
                    stream.extend(toks)
                    mask.extend(0 if p in masked else 1 for p in range(len(toks)))
                for sid in range((len(stream) + max_len - 1) // max_len):
                    lo = sid * max_len
                    hi = min(lo + max_len, len(stream))
                    ds = sorted(s - lo for s in starts if lo <= s < hi)
                    want[(src, sid)] = (stream[lo:hi], mask[lo:hi], ds)
            assert got == want, f"seed={seed}"
