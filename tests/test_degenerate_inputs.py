"""Degenerate-input sweep: every text/token operator must survive empty
strings, whitespace-only docs, and EMPTY DataFrames without throwing —
at 10^12 rows, empty documents are a certainty, and under Spark's ANSI
mode a latent 0/0 is a task-killing ArithmeticException, not a NaN
(this sweep once caught exactly that in a mixture-rate operator)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark.operators.curation import (
    decontaminate,
    decontaminate_spans,
    drop_boilerplate_lines,
    dsir_weights,
    length_quantiles,
    pii_scrub,
    repetition_stats,
    stratified_sample,
    url_domain_stats,
)
from super_speedy_syslog_searcher_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from super_speedy_syslog_searcher_spark.operators.textstats import (
    content_fingerprint,
    langid,
    quality_stats,
    token_counts,
    tfidf_top_terms,
    winnow_fingerprints,
)
from super_speedy_syslog_searcher_spark.operators.tokens import (
    assemble_sequences,
    bigram_logprob,
    bpe_pair_stats,
    pack_sequences,
    vocab_stats,
)

TEXT_OPS = [
    quality_stats,
    langid,
    token_counts,
    content_fingerprint,
    winnow_fingerprints,
    pii_scrub,
    repetition_stats,
    url_domain_stats,
    drop_boilerplate_lines,
    exact_dedup_groups,
    ngram_jaccard_pairs,
    minhash_lsh_dedup_pairs,
    simhash_pairs,
    tfidf_top_terms,
]

TOKEN_OPS = [pack_sequences, assemble_sequences, vocab_stats, bpe_pair_stats, bigram_logprob]


def _text_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


@pytest.mark.parametrize("op", TEXT_OPS, ids=lambda f: f.__name__)
def test_text_ops_survive_degenerate_docs(spark, op):
    df = _text_df(
        spark,
        [("e", ""), ("w", "   "), ("one", "word"), ("n", "a normal little document here")],
    )
    op(df).collect()  # must not throw; row content is op-specific


@pytest.mark.parametrize("op", TEXT_OPS, ids=lambda f: f.__name__)
def test_text_ops_survive_empty_frame(spark, op):
    df = _text_df(spark, [])
    assert op(df).collect() == []


@pytest.mark.parametrize("op", TOKEN_OPS, ids=lambda f: f.__name__)
def test_token_ops_survive_degenerate_docs(spark, op):
    df = spark.createDataFrame(
        [("e", "s", [], 0), ("one", "s", [7], 1), ("n", "t", [1, 2, 3], 3)],
        "doc_id string, source string, tokens array<int>, n_tok int",
    )
    op(df).collect()


@pytest.mark.parametrize("op", TOKEN_OPS, ids=lambda f: f.__name__)
def test_token_ops_survive_empty_frame(spark, op):
    df = spark.createDataFrame(
        [], "doc_id string, source string, tokens array<int>, n_tok int"
    )
    assert op(df).collect() == []


def test_parameterized_ops_survive_degenerate_docs(spark):
    d = _text_df(spark, [("e", ""), ("n", "plain words here")])
    bench = spark.createDataFrame([], "bench_id string, text string")
    decontaminate(d, bench).collect()
    decontaminate_spans(d, bench).collect()
    lang = d.withColumn("lang", F.lit("en"))
    dsir_weights(lang, F.col("lang") == "nope").collect()
    stratified_sample(lang, {"en": 50}).collect()
    length_quantiles(lang.select(F.lit("s").alias("source"), F.length("text").alias("n_chars"))).collect()


def test_similarity_ops_survive_zero_norm_vectors(spark):
    from super_speedy_syslog_searcher_spark.operators.similarity import (
        cosine_dup_pairs,
        cosine_topk,
        cosine_topk_ivf,
        cosine_topk_lsh,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.0, 0.0]), (3, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    rows = cosine_topk(corpus, queries, k=2).collect()
    # the zero-norm query has no neighbors; the zero-norm corpus row is
    # nobody's neighbor
    assert {r["query_id"] for r in rows} == {10}
    assert all(r["neighbor_id"] != 2 for r in rows)
    cosine_topk_lsh(corpus, queries, k=2).collect()
    cosine_topk_ivf(corpus, queries, k=2).collect()
    cosine_dup_pairs(corpus, threshold=0.5).collect()
