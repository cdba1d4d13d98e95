"""Text analysis for training-data curation — all JVM-side Column
expressions (whole-stage codegen, no Python in the hot path).

* quality scoring: length / word / punctuation / stopword ratios
* language-ID: stopword-marker heuristic (deterministic, SQL-mirrorable)
* token counting: whitespace tokens + a BPE-ish regex segmentation
* document fingerprinting: normalized-content hash (md5) and winnowing
  fingerprints (Schleimer et al.) — also pure Column exprs: the k-gram
  hash is the md5-60-bit form (same trick as simhash,
  operators/dedup.py), so the whole selection is SQL-mirrorable
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# BPE-ish segmentation: letter runs | digit runs | any other non-space char
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def words_col(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def n_words_col(text_col: str) -> Column:
    return F.size(words_col(text_col))


def stop_ratio_col(text_col: str) -> Column:
    w = words_col(text_col)
    stops = F.size(F.filter(w, lambda x: x.isin(STOPWORDS)))
    return F.round(stops / F.size(w), 4)


def punct_ratio_col(text_col: str) -> Column:
    total = F.length(F.col(text_col))
    no_punct = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z0-9 ]", ""))
    # empty doc → ratio undefined (NULL), not an ANSI divide-by-zero
    # task kill; the keep flag stays 0 via the n_words floor
    return F.when(total > 0, F.round((total - no_punct) / total, 4))


def avg_word_len_col(text_col: str) -> Column:
    w = words_col(text_col)
    return F.round(F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x)) / F.size(w), 4)


def quality_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc curation metrics + a simple keep/drop flag."""
    out = df.select(
        F.col(id_col),
        F.length(text_col).cast("bigint").alias("n_chars"),
        n_words_col(text_col).cast("bigint").alias("n_words"),
        avg_word_len_col(text_col).alias("avg_word_len"),
        stop_ratio_col(text_col).alias("stop_ratio"),
        punct_ratio_col(text_col).alias("punct_ratio"),
    )
    keep = (F.col("n_words") >= 10) & (F.col("avg_word_len") >= 2.0) & (F.col("punct_ratio") <= 0.2)
    return out.withColumn("keep", keep.cast("int"))


def langid(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-marker language heuristic: en_score = en-stopword share of
    words; predicted 'en' above threshold else 'unk'. (A production
    pipeline would use per-language n-gram profiles — the *shape* is the
    same: one narrow pass, scores per language, argmax.)"""
    w = words_col(text_col)
    en = F.size(F.filter(w, lambda x: x.isin(STOPWORDS)))
    score = F.round(en / F.size(w), 4)
    return df.select(
        F.col(id_col),
        score.alias("en_score"),
        F.when(score > F.lit(0.02), "en").otherwise("unk").alias("predicted_lang"),
    )


def token_counts(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    ws = F.size(F.split(F.trim(F.col(text_col)), "\\s+")).cast("bigint")
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_RE), 0)).cast("bigint")
    return df.select(F.col(id_col), ws.alias("ws_tokens"), bpe.alias("bpe_tokens"))


def content_fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Canonical content hash: lowercase, collapse whitespace, md5."""
    norm = F.lower(F.regexp_replace(F.col(text_col), "\\s+", " "))
    return df.select(F.col(id_col), F.md5(norm.cast("binary")).alias("fp"), F.length(norm).cast("bigint").alias("norm_len"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 8,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al.): per-character k-gram
    hashes, min per sliding window of ``window`` gram positions → sorted
    distinct fingerprint array (reference analogue: fingerprint-selection
    semantics over document content).

    Pure Column expressions, zero Python: the k-gram hash is the
    md5-60-bit form (``conv(substr(md5(gram),1,15),16,10)`` — the same
    trick that makes simhash oracle-checkable, operators/dedup.py:270),
    so the DuckDB twin is ``CAST('0x'||substr(md5(gram),1,15) AS
    BIGINT)`` + a window-min, and the whole operator is verifiable end to
    end. Winnowing's guarantees need only *a* deterministic per-gram
    hash, not any particular one.

    Docs shorter than ``k`` chars yield an empty array. When a doc has
    fewer than ``window`` grams, the single window spans them all. Cost
    is O(len·window) array ops per doc inside whole-stage codegen — no
    shuffle, no UDF; at 100 TB this is a map-only stage.

    The gram-hash array is bound as a ``transform`` lambda variable (a
    let-binding) rather than an intermediate projection: CollapseProject
    happily inlines a projected alias into every downstream reference,
    and since each of the L window positions references the array, an
    inlined plan recomputes all L gram md5s per position — O(L²·window)
    per doc (measured: a 27k-fingerprint corpus went 6 s → 266 s once a
    self-join above triggered the collapse). A lambda variable is bound
    once per element at runtime and the optimizer cannot substitute
    through it, so the O(L·window) shape survives any enclosing plan.
    """
    s = F.lower(F.col(text_col))
    gram_hashes = F.when(
        F.length(s) >= k,
        F.transform(
            F.sequence(F.lit(1), F.length(s) - F.lit(k - 1)),
            lambda i: F.conv(
                F.substring(F.md5(F.encode(F.substring(s, i, k), "UTF-8")), 1, 15), 16, 10
            ).cast("long"),
        ),
    ).otherwise(F.lit(None).cast(T.ArrayType(T.LongType())))

    def wins_of(h: Column) -> Column:
        wins = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(h) - F.lit(window - 1), F.lit(1))),
            lambda i: F.array_min(F.slice(h, i, window)),
        )
        return F.when(h.isNotNull(), F.array_sort(F.array_distinct(wins))).otherwise(
            F.array().cast(T.ArrayType(T.LongType()))
        )

    fps = F.element_at(F.transform(F.array(gram_hashes), wins_of), 1)
    return df.select(F.col(id_col), fps.alias("fps"))


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc top-k terms by smoothed tf-idf — the classic signal for
    corpus curation (keyword drift, boilerplate detection, topic
    sampling).  idf = ln((N+1)/(df+1)) + 1; deterministic tie-break
    (score desc, term asc); scores rounded to 4 decimals so the DuckDB
    oracle can match ln() across engines to the digit.

    Scale shape: one shuffle for the (doc, term) tf aggregate, one for
    the term df aggregate — the df side is |vocabulary| rows and joins
    BACK to the tf table keyed on term (no broadcast needed at 100 TB
    vocab sizes, but Spark may elect one under AQE when the vocab is
    small).  N is a single count aggregate, not a driver collect of
    rows.
    """
    from pyspark.sql.window import Window

    n_docs = df.select(F.countDistinct(id_col).alias("n")).collect()[0]["n"]
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = tf.join(dfreq, "term").select(
        F.col(id_col), "term", "tf", "df",
        F.round(F.col("tf") * idf, 4).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", F.col("df").alias("doc_freq"), "score")
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """Okapi BM25 keyword retrieval: top-k documents per query
    (Robertson & Zaragoza 2009, the Lucene idf form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` which is always positive).
    This is the grep-shaped capability of the reference searcher lifted
    to ranked retrieval: the reference slices logs by time and the user
    greps the slice; here a bounded keyword-query set ranks the corpus.

    ``queries`` is a bounded table ``(query_id, query)``; terms are the
    same whitespace segmentation as :func:`tfidf_top_terms` (exact-match
    terms, no case folding — documented, SQL-mirrorable). Duplicate
    terms inside one query count once. Scores are rounded to 4 decimals
    (cross-engine ln/÷) and ties break on ascending document id.

    Scale shape (100 TB corpus, bounded query set): the distinct
    query-term set BROADCASTS and prunes the corpus term stream BEFORE
    any shuffle — the only full-corpus work is the map-side split +
    per-doc ``dl`` projection inside one scan. The ``(doc, term)`` tf
    aggregate and the per-(query, doc) scoring aggregate shuffle only
    the pruned stream; ``df``/idf is |query terms| rows and broadcasts
    back. N and avgdl are one scalar aggregate (two numbers to the
    driver, never rows). The final top-k window partitions per query —
    bounded partitions, WindowGroupLimit prunes map-side.

    Returns ``(query_id, rank, doc_id, n_terms, score)`` where
    ``n_terms`` is how many distinct query terms the document matched.

    Note: N and avgdl are collected EAGERLY at construction (the
    :func:`tfidf_top_terms` n_docs idiom) and baked into the plan as
    literals — re-executing the returned DataFrame after the underlying
    table grows scores against the old corpus stats; rebuild the query
    instead.
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0).alias("ws"),
    )
    srow = base.agg(F.count("*").alias("n"), F.avg(F.size("ws")).alias("avgdl")).collect()[0]
    n_docs = int(srow["n"] or 0)
    if n_docs == 0 or not srow["avgdl"]:
        # empty corpus (or all-empty docs): nothing can match
        return (
            queries.select(F.col(query_id_col))
            .limit(0)
            .select(
                query_id_col,
                F.lit(0).alias("rank"),
                F.lit(None).cast("bigint").alias("doc_id"),
                F.lit(0).cast("bigint").alias("n_terms"),
                F.lit(0.0).alias("score"),
            )
        )
    avgdl = float(srow["avgdl"])

    qterms = (
        queries.select(
            F.col(query_id_col), F.explode(F.split(F.col(query_col), " ")).alias("term")
        )
        .filter(F.length("term") > 0)
        .distinct()
    )
    terms = base.select(F.col(id_col), F.size("ws").alias("dl"), F.explode("ws").alias("term"))
    pruned = terms.join(F.broadcast(qterms.select("term").distinct()), "term")
    tf = pruned.groupBy(id_col, "term").agg(
        F.count("*").alias("tf"), F.max("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = F.col("idf") * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
    )
    scored = tf.join(F.broadcast(dfreq.withColumn("idf", idf)), "term").join(
        F.broadcast(qterms), "term"
    )
    agg = scored.groupBy(query_id_col, id_col).agg(
        F.round(F.sum(contrib), 4).alias("score"),
        F.count("*").cast("bigint").alias("n_terms"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "rank",
            F.col(id_col).alias("doc_id"),
            "n_terms",
            "score",
        )
    )
