"""Tokenizer round-trips: decode_bpe inverts apply_bpe."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark.operators.tokens import (
    apply_bpe,
    decode_bpe,
    train_bpe,
)


def _token_docs(spark, n=30, seed=4, vmax=12):
    rng = np.random.default_rng(seed)
    rows = [
        (f"d{i:03d}", [int(x) for x in rng.integers(0, vmax, size=rng.integers(2, 40))])
        for i in range(n)
    ]
    rows.append(("d_empty", []))
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>"), dict(rows)


def _twin_expand(ids, tab):
    out = []
    for t in ids:
        if t in tab:
            left, right = tab[t]
            out.extend(_twin_expand([left, right], tab))
        else:
            out.append(t)
    return out


class TestBpeRoundtrip:
    def test_decode_inverts_apply(self, spark):
        docs, originals = _token_docs(spark, seed=4)
        merges, rewritten = train_bpe(docs, num_merges=8, min_freq=2)
        assert merges, "fixture must learn at least one merge"
        fresh, fresh_orig = _token_docs(spark, seed=99)
        enc = apply_bpe(fresh, merges)
        # encoding actually changed something (else the test is vacuous)
        changed = enc.join(
            fresh.withColumnRenamed("tokens", "orig"), "doc_id"
        ).filter(F.col("tokens") != F.col("orig"))
        assert changed.count() > 0
        dec = {r["doc_id"]: list(r["tokens"]) for r in decode_bpe(enc, merges).collect()}
        assert dec == {k: list(v) for k, v in fresh_orig.items()}

    def test_decode_inverts_trainings_own_corpus(self, spark):
        docs, originals = _token_docs(spark, seed=7)
        merges, rewritten = train_bpe(docs, num_merges=6, min_freq=2)
        dec = {
            r["doc_id"]: list(r["tokens"]) for r in decode_bpe(rewritten, merges).collect()
        }
        assert dec == {k: list(v) for k, v in originals.items()}

    def test_matches_scalar_expansion_twin(self, spark):
        docs, _ = _token_docs(spark, seed=11)
        merges, rewritten = train_bpe(docs, num_merges=8, min_freq=2)
        tab = {int(m[3]): (int(m[1]), int(m[2])) for m in merges}
        enc_rows = rewritten.collect()
        got = {r["doc_id"]: list(r["tokens"]) for r in decode_bpe(rewritten, merges).collect()}
        for r in enc_rows:
            assert got[r["doc_id"]] == _twin_expand(list(r["tokens"]), tab), r["doc_id"]

    def test_nested_merges_expand_fully(self, spark):
        """Merges whose outputs feed later merges (depth > 1)."""
        df = spark.createDataFrame(
            [("a", [1, 2, 1, 2, 1, 2, 3])], "doc_id string, tokens array<int>"
        )
        merges = [(1, 2, 10), (10, 10, 11)]  # 11 -> 10,10 -> 1,2,1,2
        enc = apply_bpe(df, merges)
        assert list(enc.first()["tokens"]) == [11, 10, 3]
        dec = decode_bpe(enc, merges)
        assert list(dec.first()["tokens"]) == [1, 2, 1, 2, 1, 2, 3]

    def test_empty_merge_table_is_identity(self, spark):
        docs, originals = _token_docs(spark, seed=13)
        dec = {r["doc_id"]: list(r["tokens"]) for r in decode_bpe(docs, []).collect()}
        assert dec == {k: list(v) for k, v in originals.items()}
