"""Corpus-curation operators for large-scale training-data pipelines:
PII scrubbing, deterministic stratified sampling, URL/domain statistics,
exact length quantiles, and winnow-fingerprint overlap dedup.

Every operator here is built from JVM-side Column expressions (no Python
in the hot path) and is SQL-mirrorable so the driver's DuckDB oracle can
verify it value-for-value:

* hashes use the md5-substring trick (``conv(substr(md5(s),1,n),16,10)``
  ↔ ``CAST('0x'||substr(md5(s),1,n) AS BIGINT)``) proven on simhash and
  winnowing (operators/dedup.py, operators/textstats.py)
* regexes stay inside the Java-regex ∩ RE2 common subset (no
  backreferences, no lookaround) so Spark and DuckDB match identically
* quantile thresholds compare in pure integer arithmetic
  (``cum*100 >= p*total``) — no float equality across engines

Scale shapes (100 TB review):

* ``pii_scrub`` — map-only, whole-stage codegen; no shuffle.
* ``stratified_sample`` — map-only filter on a uniform md5 bucket; the
  kept fraction per stratum is exact-in-expectation and fully
  deterministic (re-runs and resumed checkpoints keep the same rows).
* ``url_domain_stats`` — map + explode + one aggregate shuffle keyed on
  domain; hot domains (a CDN host can dominate a crawl) are absorbed by
  Spark's partial (map-side) aggregation, which reduces each task's
  contribution to one row per domain before the exchange.
* ``length_quantiles`` — aggregates the raw table down to a
  (stratum, length, count) histogram FIRST (bounded by
  |strata|·|distinct lengths|, not row count), then windows over that
  tiny table. Never sorts raw rows; an exact quantile at 10^12 rows
  costs one partial-agg shuffle.
* ``winnow_overlap_pairs`` — inverted-index self-join on winnow
  fingerprints with a ``max_df`` hot-fingerprint cap (same guard as
  n-gram Jaccard, operators/dedup.py): boilerplate fingerprints shared
  by >max_df docs are dropped before the join, so no quadratic bucket
  exists.
* ``repetition_stats`` — ONE explode (all n-gram orders tagged into a
  single array) → one (doc, n, gram) aggregate → one per-doc aggregate.
  Never materializes per-doc gram maps in expression space.
* ``decontaminate`` — benchmark grams are broadcast (eval sets are
  tiny next to the corpus); the 100-TB gram stream map-joins with no
  shuffle, and only hit rows reach the per-doc aggregate.
* ``dsir_weights`` — the feature table is hashed to a FIXED bucket
  count, so the score join broadcasts at any corpus size; one token
  pass builds both the target and source distributions.
* ``drop_boilerplate_lines`` — line doc-frequency via groupBy
  countDistinct (two-phase, scalable), NOT a window collect_set, which
  would buffer every doc_id of a hot boilerplate line ("  at ...") in
  one aggregation buffer; the join back to lines reuses the groupBy's
  hash partitioning on ``line``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Java-regex ∩ RE2 — mirrored literally into the DuckDB oracles.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
PHONE_RE = "\\b555-\\d{4}\\b"
URL_DOMAIN_RE = "https?://([^/ ]+)"


def _n_matches(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0)).cast("bigint")


def pii_scrub(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Redact emails, IPv4 addresses, and phone numbers; count each.

    Counts are taken on the raw text; replacements are applied
    email→ip→phone (the tokens inserted by earlier passes contain no
    digits or ``@``, so later passes cannot re-match them).
    """
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return df.select(
        F.col(id_col),
        _n_matches(t, EMAIL_RE).alias("n_email"),
        _n_matches(t, IPV4_RE).alias("n_ip"),
        _n_matches(t, PHONE_RE).alias("n_phone"),
        scrubbed.alias("scrubbed"),
    )


def hash_bucket(col: Column, n_buckets: int = 100) -> Column:
    """Deterministic uniform bucket in [0, n_buckets) from md5 of the
    column's string form — identical in DuckDB as
    ``CAST('0x'||substr(md5(CAST(x AS VARCHAR)),1,8) AS BIGINT) % n``."""
    h = F.conv(F.substring(F.md5(F.encode(col.cast("string"), "UTF-8")), 1, 8), 16, 10)
    return (h.cast("long") % n_buckets).alias("bucket")


def stratified_sample(
    df: DataFrame,
    rates: dict[str, int],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: int = 0,
) -> DataFrame:
    """Keep each row iff its doc-hash bucket < the stratum's percent
    rate. Deterministic (same rows on re-run / resume / either engine),
    uniform within stratum, map-only — the sampling decision never
    shuffles, unlike ``df.sampleBy`` whose seed semantics are tied to
    partition layout and change under repartitioning."""
    rate = F.lit(default_rate)
    for stratum, pct in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(pct)).otherwise(rate)
    out = df.withColumn("bucket", hash_bucket(F.col(id_col))).withColumn("rate", rate)
    return out.filter(F.col("bucket") < F.col("rate"))


def leakage_safe_splits(
    df: DataFrame,
    cluster_col: str = "cluster_id",
    splits: tuple[tuple[str, int], ...] = (("train", 98), ("valid", 1), ("test", 1)),
    n_buckets: int = 100,
    salt: str = "split",
    id_col: str | None = None,
) -> DataFrame:
    """Cluster-aware train/valid/test split assignment — the
    leakage-safe split of dedup-aware LLM data prep (the failure it
    prevents: two near-duplicate documents landing on opposite sides of
    the train/eval boundary, inflating eval scores; see Lee et al. 2021
    §6.2 on train/test overlap from duplication).

    The unit of assignment is the DUPLICATE CLUSTER, not the document:
    every row hashes ``salt || ':' || cluster_col`` into ``n_buckets``
    md5 buckets (``hash_bucket`` — deterministic, engine-independent)
    and the bucket maps to a split by cumulative weight. All members of
    a cluster share the cluster id, hence the bucket, hence the split —
    near-duplicates can never straddle splits BY CONSTRUCTION, no
    coordination needed. Callers splitting a full corpus pass each
    unclustered doc as its own singleton cluster
    (``coalesce(cluster_id, doc_id)``).

    Map-only (the split decision adds zero shuffles — the same
    resume-stable discipline as ``stratified_sample``); weights are
    integers out of ``n_buckets`` so proportions are exact in
    expectation and auditable per bucket.

    NULL cluster keys: pass ``id_col`` to make each NULL-cluster row its
    own singleton cluster (``coalesce(cluster_col, id_col)`` built in —
    the raw docs⟕components left-join works as-is). Without ``id_col``
    a NULL key raises at execution time rather than silently hashing
    every unclustered row into the single ``md5('<salt>:')`` bucket
    (``concat_ws`` drops NULLs — review r4.3).
    """
    total = sum(w for _, w in splits)
    if total != n_buckets:
        raise ValueError(f"split weights must sum to n_buckets ({total} != {n_buckets})")
    key = F.col(cluster_col).cast("string")
    if id_col is not None:
        key = F.coalesce(key, F.col(id_col).cast("string"))
    key = F.when(
        key.isNull(),
        F.raise_error(
            F.lit(
                f"leakage_safe_splits: NULL cluster key in {cluster_col!r} — "
                "pass id_col for a singleton-cluster fallback"
            )
        ).cast("string"),
    ).otherwise(key)
    b = hash_bucket(F.concat_ws(":", F.lit(salt), key), n_buckets)
    out = df.withColumn("_sb", b)
    expr = F.lit(splits[-1][0])
    acc = 0
    conds = []
    for name, w in splits[:-1]:
        acc += w
        conds.append((acc, name))
    for acc, name in reversed(conds):
        expr = F.when(F.col("_sb") < acc, F.lit(name)).otherwise(expr)
    return out.withColumn("split", expr).drop("_sb")


def url_domain_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-domain URL statistics: total URL mentions and distinct docs."""
    urls = df.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(URL_DOMAIN_RE), 1)).alias("domain"),
    )
    return urls.groupBy("domain").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct(id_col).alias("n_docs"),
    )


def length_quantiles(
    df: DataFrame,
    stratum_col: str = "source",
    value_col: str = "n_chars",
    pcts: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Exact per-stratum quantiles of an integer column at any scale.

    Definition: p-th percentile = smallest value v with
    cumulative_count(<= v) * 100 >= p * total — pure integer comparison,
    so Spark and the SQL oracle agree exactly. The raw table collapses
    to a (stratum, value, count) histogram before any window runs.
    """
    hist = df.groupBy(stratum_col, value_col).agg(F.count("*").alias("cnt"))
    w_cum = Window.partitionBy(stratum_col).orderBy(value_col)
    w_all = Window.partitionBy(stratum_col)
    cum = hist.select(
        stratum_col,
        value_col,
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    aggs = [
        F.min(
            F.when(F.col("cum") * 100 >= F.lit(p) * F.col("total"), F.col(value_col))
        ).alias(f"p{p}")
        for p in pcts
    ]
    return cum.groupBy(stratum_col).agg(*aggs, F.max("total").alias("n_docs"))


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top2_max: float = 0.20,
    top3_max: float = 0.18,
    dup5_max: float = 0.15,
) -> DataFrame:
    """Gopher-style within-document repetition filters (Rae et al. 2021,
    adapted to unstructured space-separated text): duplicate-word
    fraction, top-2/3-gram character fraction, duplicate-5-gram character
    fraction, and a keep flag against the thresholds.

    Character fractions use length(gram-with-inner-spaces) / length(text)
    — a documented adaptation (Gopher counts raw chars of the n-gram
    occurrences; inner spaces included keeps both engines' arithmetic in
    integers until the final division).

    top2/top3gram_frac follow the paper: the coverage of the MOST
    FREQUENT n-gram (max cnt), not the max coverage over all grams — a
    longer-but-rarer gram can no longer win (ADVICE r3). Ties on cnt
    break toward the longer gram (maximizing the reported coverage among
    equally-frequent grams), which also makes the output deterministic:
    equal (cnt, len) ties all yield the same cnt*len product.

    All n-gram orders are tagged into ONE exploded stream, so the whole
    operator is: one explode, one (doc, n, gram) count aggregate, one
    per-doc aggregate, one join to the doc-length table. Map-side partial
    aggregation absorbs within-doc gram repeats before the exchange.
    """
    words = F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0)

    def grams_of(n: int) -> Column:
        w = F.col("_w")
        return F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
                lambda i: F.struct(
                    F.lit(n).alias("n"), F.concat_ws(" ", F.slice(w, i, n)).alias("gram")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))

    tagged = df.select(
        F.col(id_col), F.length(text_col).cast("long").alias("n_chars"), words.alias("_w")
    ).select(
        id_col,
        "n_chars",
        F.explode(F.flatten(F.array(grams_of(1), grams_of(2), grams_of(3), grams_of(5)))).alias(
            "g"
        ),
    )
    counts = tagged.groupBy(id_col, "n_chars", F.col("g.n").alias("n"), F.col("g.gram").alias("gram")).agg(
        F.count("*").alias("cnt")
    )
    gchars = F.col("cnt") * F.length("gram")
    # most-frequent gram, tie → longer: lexicographic struct max on (cnt, len)
    freq_key = F.struct(F.col("cnt").alias("c"), F.length("gram").alias("l"))
    per_doc = counts.groupBy(id_col, "n_chars").agg(
        F.sum(F.when(F.col("n") == 1, F.col("cnt"))).alias("n_words"),
        F.count(F.when(F.col("n") == 1, True)).alias("n_distinct_words"),
        F.max(F.when(F.col("n") == 2, freq_key)).alias("_top2s"),
        F.max(F.when(F.col("n") == 3, freq_key)).alias("_top3s"),
        F.sum(F.when((F.col("n") == 5) & (F.col("cnt") > 1), gchars)).alias("_dup5"),
    )
    top2 = F.round(
        F.coalesce(F.col("_top2s.c") * F.col("_top2s.l"), F.lit(0)) / F.col("n_chars"), 4
    )
    top3 = F.round(
        F.coalesce(F.col("_top3s.c") * F.col("_top3s.l"), F.lit(0)) / F.col("n_chars"), 4
    )
    dup5 = F.round(F.coalesce(F.col("_dup5"), F.lit(0)) / F.col("n_chars"), 4)
    dupw = F.round(
        (F.col("n_words") - F.col("n_distinct_words")) / F.col("n_words"), 4
    )
    out = per_doc.select(
        id_col,
        "n_chars",
        F.col("n_words").cast("long"),
        dupw.alias("dup_word_frac"),
        top2.alias("top2gram_frac"),
        top3.alias("top3gram_frac"),
        dup5.alias("dup5gram_frac"),
    )
    keep = (
        (F.col("top2gram_frac") <= top2_max)
        & (F.col("top3gram_frac") <= top3_max)
        & (F.col("dup5gram_frac") <= dup5_max)
    )
    return out.withColumn("keep", keep.cast("int"))


def drop_boilerplate_lines(
    df: DataFrame,
    max_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated-line removal (RefinedWeb-style paragraph
    dedup, at line grain — the natural unit for log corpora): a line
    appearing in more than ``max_docs`` distinct documents is boilerplate
    and is dropped from every document; documents are rebuilt with their
    remaining lines in original order.

    Returns ``(doc_id, n_lines, n_removed, clean_text)``.
    """
    lines = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "line")
    )
    stats = lines.groupBy("line").agg(F.countDistinct(id_col).alias("line_docs"))
    joined = lines.join(stats, "line")
    keep = F.col("line_docs") <= max_docs
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.when(~keep, 1).otherwise(0)).cast("long").alias("n_removed"),
            F.array_sort(
                F.collect_list(F.when(keep, F.struct("idx", "line")))
            ).alias("_kept"),
        )
        .select(
            id_col,
            "n_lines",
            "n_removed",
            F.concat_ws("\n", F.transform("_kept", lambda s: s["line"])).alias("clean_text"),
        )
    )


def winnow_overlap_pairs(
    fps: DataFrame,
    min_shared: int = 8,
    max_df: int = 20,
    id_col: str = "doc_id",
    fps_col: str = "fps",
) -> DataFrame:
    """Near-duplicate candidate pairs from shared winnowing fingerprints
    (MOSS-style local similarity; fingerprint source:
    textstats.winnow_fingerprints, reference analogue: fingerprint
    selection over document content).

    Inverted index on fingerprint → drop fingerprints present in more
    than ``max_df`` docs (boilerplate guard; prevents the quadratic hot
    bucket) → self-join → pairs sharing ≥ ``min_shared`` fingerprints.

    The document-frequency cap is a groupBy + join, NOT a window count
    over ``fp``: a boilerplate fingerprint shared by 10⁷ docs would be
    ONE window partition = one task holding every copy (the single-task
    hotspot shape fixed for star-mode LSH roots and closure sizes). The
    aggregate absorbs the hot fingerprint map-side — one row per fp per
    task before the exchange — and both the cap join and the self-join
    key on ``fp``, so the exchanges stay co-partitioned.
    """
    inv = fps.select(F.col(id_col), F.explode(fps_col).alias("fp"))
    dfc = inv.groupBy("fp").agg(F.count("*").alias("df"))
    capped = inv.join(dfc.filter(F.col("df") <= max_df).select("fp"), "fp")
    pairs = (
        capped.alias("a")
        .join(capped.alias("b"), "fp")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with an eval/benchmark set (the GPT-3/PaLM-style
    "dirty document" rule at n≈8-13; reference analogue: none — this is
    the training-data-pipeline companion the log engine needs at scale).

    Shape at 10^12 docs: the benchmark side is small (10^3-10^5 eval
    rows) → its distinct grams are ``F.broadcast`` — the corpus-side
    gram stream map-joins against them and NEVER shuffles; only the
    (rare) hit rows enter the per-doc aggregate exchange. The join-back
    attaching hit stats to the full corpus is a plain left join: its
    right side is bounded by the number of contaminated docs, which AQE
    converts to a broadcast at runtime (not forced here because a
    pathological benchmark could legitimately hit most of the corpus).

    Returns one row per training doc: ``doc_id, n_grams, n_hit_grams,
    n_bench_hits, contaminated`` (contaminated = n_hit_grams ≥
    ``min_hits``). The clean corpus is ``out.filter("contaminated = 0")``
    — Catalyst pushes that filter into the left join's stream side.
    """
    from .dedup import word_ngrams_col

    tg = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_ngrams_col(text_col, n)).alias("grams"),
    )
    base = tg.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
    bgrams = (
        bench.select(
            F.col(bench_id_col).alias("bench_id"),
            F.explode(F.array_distinct(word_ngrams_col(bench_text_col, n))).alias("gram"),
        ).distinct()
    )
    hits = (
        tg.select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(bgrams), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_hit_grams"),
            F.countDistinct("bench_id").alias("n_bench_hits"),
        )
    )
    return (
        base.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
            F.coalesce("n_bench_hits", F.lit(0)).cast("long").alias("n_bench_hits"),
        )
        .withColumn("contaminated", (F.col("n_hit_grams") >= min_hits).cast("int"))
    )


def dsir_weights(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 8192,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    hash every word into one of ``n_buckets`` features, estimate the
    target and source (raw-corpus) feature distributions with add-one
    smoothing, and score each document by the mean per-token
    log-likelihood ratio  ln p_target(f) − ln p_source(f). Documents
    lexically closer to the target subset score higher; resampling by
    ``exp(weight)`` tilts the corpus toward the target domain.

    ``is_target`` is a boolean Column over ``docs`` marking the target
    subset (e.g. ``F.col("lang") == "en"`` or a quality flag).

    Scale shape: ONE token pass builds both distributions (c_target is a
    conditional sum inside the same aggregate as c_source); the feature
    table is FIXED SIZE (``n_buckets`` rows — the reason DSIR hashes
    instead of keeping raw vocabulary), so the score join broadcasts at
    any corpus size and the 10^12-doc side never shuffles on a string
    key. The only wide exchanges are keyed on the bounded bucket id and
    on ``doc_id`` for the final per-doc mean (map-side partial agg).

    Docs with zero words produce no rows (no tokens → no evidence).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        is_target.cast("long").alias("is_t"),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0)).alias("w"),
    ).withColumn("b", hash_bucket(F.col("w"), n_buckets))
    bcnt = toks.groupBy("b").agg(
        F.count("*").alias("c_s"), F.sum("is_t").alias("c_t")
    )
    totals = bcnt.agg(F.sum("c_s").alias("n_s"), F.sum("c_t").alias("n_t"))
    ratio = bcnt.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("c_t") + 1) / (F.col("n_t") + n_buckets))
            - F.log((F.col("c_s") + 1) / (F.col("n_s") + n_buckets))
        ).alias("lr"),
    )
    return (
        toks.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.round(F.avg("lr"), 4).alias("dsir_weight"),
        )
    )


def quality_classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    bias: float = 0.0,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashed-feature linear text classifier INFERENCE — the model-based
    quality filter of web-scale curation stacks (the fastText-classifier
    stage of CCNet/RefinedWeb-style pipelines; architecture per Joulin et
    al. 2016: mean of hashed token features → linear layer → sigmoid).
    This is the inference half only: ``weights`` is a learned
    ``(b, weight)`` table with ``b`` in ``[0, n_buckets)``; any logistic
    regression trained on the same hashed features produces one.

    Per doc: ``clf_logit = round(bias + mean_w weight[h(w)], 4)``,
    ``clf_score = sigmoid(clf_logit)`` (of the ROUNDED logit, so two
    engines sigmoid identical inputs), ``clf_keep = clf_logit > 0``.
    Words hash with the same md5 bucket as :func:`dsir_weights`
    (``hash_bucket``) — cross-engine reproducible. Buckets absent from
    ``weights`` contribute 0 (sparse tables allowed).

    Scale shape (the DSIR shape exactly): the weight table is FIXED SIZE
    (≤ ``n_buckets`` rows) and broadcasts at any corpus size; the corpus
    word stream joins it map-side, and the only wide exchange is the
    per-doc mean keyed on ``doc_id`` (map-side partial agg). Docs with
    zero words produce no rows (no features → no evidence).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0)
        ).alias("w"),
    ).withColumn("b", hash_bucket(F.col("w"), n_buckets))
    w = weights.select(F.col("b"), F.col("weight"))
    scored = toks.join(F.broadcast(w), "b", "left").withColumn(
        "weight", F.coalesce("weight", F.lit(0.0))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.round(F.lit(bias) + F.sum("weight") / F.count("*"), 4).alias("clf_logit"),
    )
    return agg.select(
        "doc_id",
        "n_words",
        "clf_logit",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("clf_logit"))), 4).alias(
            "clf_score"
        ),
        (F.col("clf_logit") > 0).cast("int").alias("clf_keep"),
    )


def decontaminate_spans(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    mask: str = "<MASKED>",
) -> DataFrame:
    """Span-level decontamination: instead of dropping a contaminated
    document (``decontaminate``), replace just the words covered by any
    benchmark-overlapping ``n``-gram with ``mask`` (the surgical variant
    modern code/datasets use so one leaked eval question doesn't cost a
    whole document).

    Same scale shape as ``decontaminate``: benchmark grams broadcast,
    corpus never shuffles for matching; the per-doc hit-window set is
    aggregated from hit rows only (rare), and the rebuild is pure array
    algebra in codegen — a word is masked iff some hit gram starting at
    position p ≤ i covers index i (p > i - n).

    Returns ``doc_id, clean_text, n_masked_words, n_words``.
    """
    from .dedup import word_ngrams_col

    words = F.split(F.col(text_col), " ")
    base = docs.select(F.col(id_col).alias("doc_id"), words.alias("ws"))
    # doc grams WITH their word-start index (posexplode keeps position)
    tg = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_ngrams_col(text_col, n)).alias("pos", "gram"),
    )
    bgrams = (
        bench.select(
            F.explode(F.array_distinct(word_ngrams_col(bench_text_col, n))).alias("gram")
        ).distinct()
    )
    hits = (
        tg.join(F.broadcast(bgrams), "gram")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("hit_starts"))
    )
    joined = base.join(hits, "doc_id", "left").select(
        "doc_id", "ws", F.coalesce("hit_starts", F.array().cast("array<int>")).alias("hs")
    )
    # word i is covered iff ∃ start p ∈ hs with i-n < p ≤ i
    covered = lambda i: F.exists("hs", lambda p: (p <= i) & (p > i - n))
    masked = F.transform(
        "ws", lambda w, i: F.when(covered(i), F.lit(mask)).otherwise(w)
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", masked).alias("clean_text"),
        F.size(F.filter(masked, lambda w: w == mask)).cast("long").alias("n_masked_words"),
        F.size("ws").cast("long").alias("n_words"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_BULLET_CHARS = ("•", "‣", "▪", "-", "*")


def gopher_quality_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher quality-rule stats + keep flag (Rae et al. 2021, Table A1)
    — the companion to :func:`repetition_stats` (which carries the
    repetition rules of the same appendix): word-count bounds, mean word
    length bounds, symbol-to-word ratio (``#`` and ellipses), fractions
    of bullet-led and ellipsis-terminated lines, fraction of words with
    an alphabetic character, and the ≥2-stopwords requirement.

    Pure Column expressions end to end — higher-order array functions
    over the word/line splits, no UDF, no shuffle (map-only; the
    per-doc stats need no aggregate because each doc is one row). Every
    count stays integer until the final division and every regex sits in
    the Java∩RE2 subset, so the DuckDB twin reproduces each value
    bit-for-bit (module-head discipline).

    Ratios are NULL for empty docs (0 words / 0 lines) and the keep flag
    is then false — mirrored by the twin's NULL propagation.
    """
    text = F.col(text_col)
    words = F.filter(F.split(text, " "), lambda x: F.length(x) > 0)
    lines = F.split(text, "\n")
    n_words = F.size(words).cast("long")
    sum_wlen = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ell3 = (
        (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / F.lit(3)
    ).cast("long")
    n_ellu = F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit("")))
    n_symbols = (n_hash + n_ell3 + n_ellu).cast("long")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda l: l.substr(1, 1).isin(*_BULLET_CHARS))
    ).cast("long")
    n_ell_lines = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    ).cast("long")
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("long")

    def ratio(num, den):
        return F.round(F.when(den > 0, num / den), 4)

    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        ratio(sum_wlen, n_words).alias("mean_word_len"),
        ratio(n_symbols, n_words).alias("symbol_word_ratio"),
        ratio(n_bullet, n_lines).alias("bullet_line_frac"),
        ratio(n_ell_lines, n_lines).alias("ellipsis_line_frac"),
        ratio(n_alpha, n_words).alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return out.withColumn(
        "gopher_pass", F.when(F.coalesce(keep, F.lit(False)), 1).otherwise(0)
    )


# ---------------------------------------------------------------------------
# HTML main-content extraction
# ---------------------------------------------------------------------------

# Java-regex ∩ RE2 (inline (?is) flags and lazy quantifiers are common to
# both engines; no lookaround, no backreferences) — the DuckDB twin is
# BUILT from these constants, so the two engines can never drift.
HTML_DROP_RES = (
    "(?is)<script\\b[^>]*>.*?</script>",
    "(?is)<style\\b[^>]*>.*?</style>",
    "(?s)<!--.*?-->",
)
# closing a block-level element (or <br>) ends a text line
HTML_BLOCK_RE = (
    "(?i)</(?:p|div|li|tr|h[1-6]|section|article|blockquote|pre|table|ul|ol)>"
    "|(?i)<br[ /]*>"
)
HTML_TAG_RE = "<[^>]*>"
# decoded in order — '&amp;' LAST, so '&amp;lt;' yields the literal
# '&lt;' (one decode pass, not a fixpoint), matching html.unescape on
# non-pathological input
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)
# whitespace canon steps (pattern, replacement), applied in order and
# iterated verbatim by the DuckDB twin builder. End anchors are \z (end
# of TEXT — identical in Java regex and RE2), NEVER $: Java's $ also
# matches before a final line terminator while RE2's matches only at
# end of input, which silently breaks the bit-for-bit twin contract on
# text ending in space+newline (review r4.4).
HTML_WS_CANON = (
    ("[\\t\\r]", " "),
    (" *\\n *", "\n"),
    ("  +", " "),
    ("\\n\\n\\n+", "\n\n"),
    ("^[\\n ]+|[\\n ]+\\z", ""),
)


def html_escape_min(col: Column) -> Column:
    """Minimal &/</> escape — the exact inverse of the HTML_ENTITIES
    decode that :func:`extract_html_text` applies (ampersand FIRST so
    later passes cannot double-escape). Use this whenever document text
    is injected into HTML chrome; a raw ``<`` would otherwise make the
    tag-strip regex swallow everything to the next ``>``."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    return F.replace(out, F.lit(">"), F.lit("&gt;"))


def extract_html_text(df: DataFrame, id_col: str = "doc_id", html_col: str = "html") -> DataFrame:
    """Main-content text extraction from raw HTML (the trafilatura /
    resiliparse stage of a web-crawl pipeline, reduced to its
    deterministic regex core): drop script/style/comment subtrees,
    convert block-element closes to line breaks, strip remaining tags,
    decode the common entities, and canonicalize whitespace.

    Pure Column regexp algebra end to end — map-only, whole-stage
    codegen, zero shuffles, so it runs at crawl scale as a narrow stage
    over the raw HTML column. Every pattern lives in the module-head
    Java∩RE2 constants that the DuckDB twin is generated from.

    Returns ``(id, text, n_chars_html, n_chars_text, text_density)``
    where ``text_density`` is the extracted/raw character ratio — the
    classic boilerplate-page signal (chrome-heavy pages score low).
    """
    h = F.col(html_col)
    t = h
    for pat in HTML_DROP_RES:
        t = F.regexp_replace(t, pat, "")
    t = F.regexp_replace(t, HTML_BLOCK_RE, "\n")
    t = F.regexp_replace(t, HTML_TAG_RE, "")
    for ent, rep in HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    # whitespace canon: CR/tab -> space, spaces hugging a newline dropped,
    # space runs collapsed, 3+ newlines -> paragraph break, ends trimmed
    for pat, rep in HTML_WS_CANON:
        t = F.regexp_replace(t, pat, rep)
    n_html = F.length(h).cast("long")
    n_text = F.length(t).cast("long")
    return df.select(
        F.col(id_col),
        t.alias("text"),
        n_html.alias("n_chars_html"),
        n_text.alias("n_chars_text"),
        F.round(F.when(n_html > 0, n_text / n_html).otherwise(F.lit(0.0)), 4).alias(
            "text_density"
        ),
    )


# ---------------------------------------------------------------------------
# Unicode normalization + mojibake repair
# ---------------------------------------------------------------------------

# C0 controls except tab/newline, DEL, and the C1 block — stripped.
# \xNN / \x{NNNN} escapes are the Java∩RE2 common form.
CONTROL_RE = "[\\x00-\\x08\\x0B-\\x1F\\x7F-\\x9F]"
# NBSP joins the horizontal-whitespace collapse class
HSPACE_RE = "[ \\x{00A0}]+"
# edge trim — \z, not $, for the Java/RE2 parity reason at HTML_WS_CANON
NORM_TRIM_RE = "^ +| +\\z"
# UTF-8 bytes mis-decoded as Latin-1 leave Â/Ã/â followed by a
# continuation-range character — the cheap vectorized hint mask
# (Python-re dialect: used only inside the pandas UDF)
MOJIBAKE_HINT_RE = "[\u00c2\u00c3\u00e2][\u0080-\u00bf\u00c0-\u00ff]"


def normalize_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fix_mojibake: bool = False,
) -> DataFrame:
    """Unicode canonicalization for web text (the ftfy/C4 cleanup
    stage): NFC composition, control-character strip (tab and newline
    survive), NBSP→space, horizontal-whitespace collapse, edge trim.

    NFC runs in ONE Arrow-batched pandas UDF (pandas' vectorized
    ``Series.str.normalize``); everything else is pure Column regexes in
    the Java∩RE2 subset built from the module-head constants, so the
    DuckDB twin (``nfc_normalize`` + the same regexes) reproduces every
    value bit-for-bit. Map-only — zero shuffles at any corpus size.

    ``fix_mojibake=True`` additionally repairs the classic
    UTF-8-read-as-Latin-1 double encoding (``Ã©`` → ``é``)
    BEFORE NFC: only rows matching the hint pattern attempt the
    latin-1→utf-8 round trip (invalid round trips keep the original),
    so the per-row Python cost is bounded by the mojibake rate, not the
    corpus. The repair is not SQL-expressible and stays out of the
    driver row (python-twin pytest evidence instead).

    Returns ``(id, norm_text, n_chars_raw, n_chars_norm, changed)``.
    """
    raw = F.col(text_col)

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        if fix_mojibake:
            mask = s.str.contains(MOJIBAKE_HINT_RE, regex=True, na=False)
            if mask.any():

                def _repair(v: str) -> str:
                    try:
                        return v.encode("latin-1").decode("utf-8")
                    except (UnicodeEncodeError, UnicodeDecodeError):
                        return v

                s = s.where(~mask, s[mask].map(_repair))
        return s.str.normalize("NFC")

    t = _nfc(raw)
    t = F.regexp_replace(t, CONTROL_RE, "")
    t = F.regexp_replace(t, HSPACE_RE, " ")
    t = F.regexp_replace(t, NORM_TRIM_RE, "")
    return df.select(
        F.col(id_col),
        t.alias("norm_text"),
        F.length(raw).cast("long").alias("n_chars_raw"),
        F.length(t).cast("long").alias("n_chars_norm"),
        F.when(t != raw, 1).otherwise(0).alias("changed"),
    )


# ---------------------------------------------------------------------------
# n-gram novelty (corpus-overlap / memorization profile)
# ---------------------------------------------------------------------------


def ngram_novelty(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = False,
) -> DataFrame:
    """Per-document n-gram novelty (the WIMBD / memorization-scan
    statistic, Elazar et al. 2023): the fraction of a document's
    DISTINCT word n-grams that occur in no other document. Low novelty
    marks template/boilerplate/near-copy documents that survive exact
    dedup; it is the complement of ``decontaminate``'s overlap counting
    with the corpus itself as the benchmark.

    Scale shape (100 TB): distinct (doc, gram) pairs → gram
    doc-frequency with map-side partial aggregation (a boilerplate gram
    in 10^7 docs reaches the exchange as one row per task) → enrichment
    join back co-partitioned on gram (1:1 fan-out to each gram's doc
    rows — no quadratic bucket, the same shape as
    ``winnow_overlap_pairs``'s cap join) → one per-doc aggregate.
    Ratios are NULL for docs with no n-grams (shorter than ``n``
    words), mirroring the gopher-stats NULL convention.

    The gram stream feeds BOTH the df aggregate and the join-back; by
    default it is recomputed (two scans of cheap codegen split/hash)
    rather than materialized — at 10^12 rows the distinct (doc, gram)
    stream is ~n× the corpus bytes, so persisting it costs more than
    the second scan. ``materialize=True`` flips to an eager
    ``localCheckpoint`` (the incremental-LSH idiom) for mid-size
    corpora where executor storage beats the recompute.

    Returns ``(id, n_grams, n_novel, novelty_frac)``.
    """
    words = F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0)
    grams_arr = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = df.select(F.col(id_col), F.explode(F.array_distinct(grams_arr)).alias("gram"))
    if materialize:
        pairs = pairs.localCheckpoint(eager=True)
    dfreq = pairs.groupBy("gram").agg(F.count("*").cast("long").alias("gram_docs"))
    per_doc = (
        pairs.join(dfreq, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("gram_docs") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    ng = F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
    nn = F.coalesce(F.col("n_novel"), F.lit(0)).cast("long")
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            ng.alias("n_grams"),
            nn.alias("n_novel"),
            F.round(F.when(ng > 0, nn / ng), 4).alias("novelty_frac"),
        )
    )


def exact_k_sample(
    df: DataFrame,
    k: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACTLY-k deterministic sample per stratum — the companion to
    :func:`stratified_sample` (rate-based, exact only in expectation)
    for the "give me exactly 10k eval docs per language" ask: rank each
    stratum's rows by ``md5(id)`` (a uniform, layout- and engine-
    independent pseudo-order; ties impossible on distinct ids, but the
    id itself tie-breaks anyway) and keep ``rank <= k``. Re-runs,
    resumes, and the DuckDB twin select the identical set; adding new
    docs to a stratum only swaps members whose hash falls inside the
    new top-k — a growing corpus perturbs the sample minimally
    (bounded-churn property of hash-ordered selection). With
    ``stratum_col="domain"`` this is also the C4-style per-domain doc
    cap ("at most k pages per site").

    Scale shape: the per-stratum rank is a window over (stratum), but
    Spark's WindowGroupLimit inserts a PARTIAL top-k below the exchange
    (rank-function filter pushdown), so each task forwards at most k
    rows per stratum it has seen — a hot stratum never funnels its full
    10^12 rows through one task's sort buffer; the final per-stratum
    task handles O(k x tasks) rows. For k large enough to break that
    bound, fall back to a two-pass rate estimate + exact trim.

    Returns the input rows (subset) plus ``sample_rank``.
    """
    key = F.md5(F.encode(F.col(id_col).cast("string"), "UTF-8"))
    w = Window.partitionBy(stratum_col).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str = "n_tok",
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "psample",
) -> DataFrame:
    """WEIGHTED sampling without replacement — priority sampling
    (Duffield, Lund & Thorup, JACM 2007): each row draws a deterministic
    uniform ``u ∈ (0,1]`` from md5 of its id, gets priority ``q = w/u``,
    and the top-k priorities per stratum are the sample. Each kept row
    carries the unbiased subset-sum estimator ``est_w = max(w, tau)``
    where ``tau`` is the (k+1)-th priority — summing ``est_w`` over any
    kept subset estimates that subset's true total weight (THE property
    a token-weighted corpus sample needs: "sample 10k docs per language
    by token mass, still able to estimate token totals of any slice").

    Chosen over Efraimidis–Spirakis keys (``u^(1/w)``): the priority
    needs ONE IEEE division of exact doubles (``u`` is a 32-bit integer
    scaled by 2^-32 — exact; ``w`` integer — exact; division correctly
    rounded), so Spark and DuckDB produce BIT-IDENTICAL keys and the
    identical sample — E-S needs ``ln``/``pow``, which neither engine
    correctly rounds, so its sample could differ by 1-ulp races at the
    rank-k boundary.

    Scale shape: draw + priority are map-only; the per-stratum top-k is
    the same WindowGroupLimit partial-top-k shape as
    :func:`exact_k_sample` (a hot stratum never funnels raw rows into
    one sort); ``tau`` needs rank k+1, so the window keeps k+1 and one
    bounded per-stratum aggregate broadcasts tau back. Deterministic,
    resume-stable, layout-independent.

    Returns the sampled rows plus ``prio_rank`` (1..k) and ``est_w``.
    """
    h = F.conv(
        F.substring(F.md5(F.encode(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")), "UTF-8")), 1, 8),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(4294967296.0)  # (0,1], exact double
    q = F.col(weight_col).cast("double") / u  # one correctly-rounded division
    w = Window.partitionBy(stratum_col).orderBy(F.col("_prio").desc(), F.col(id_col).asc())
    ranked = (
        df.withColumn("_prio", q)
        .withColumn("prio_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("prio_rank") <= k + 1)
    )
    tau = ranked.filter(F.col("prio_rank") == k + 1).groupBy(stratum_col).agg(
        F.max("_prio").alias("_tau")
    )
    return (
        ranked.filter(F.col("prio_rank") <= k)
        .join(F.broadcast(tau), stratum_col, "left")
        .withColumn(
            "est_w",
            F.greatest(F.col(weight_col).cast("double"), F.coalesce(F.col("_tau"), F.lit(0.0))),
        )
        .drop("_prio", "_tau")
    )


def badwords_filter(
    df: DataFrame,
    blocklist: list[str] | DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style bad-word content filter (Raffel et al. 2020, §2.2: a
    page is removed when it contains ANY word on a blocklist). Matching
    is the published rule: lowercase, word grain (whitespace split),
    punctuation stripped from word edges — so ``"Word!"`` matches
    blocklist entry ``word``.

    Output: one row per input doc — ``bw_hits`` (total blocked-word
    occurrences), ``bw_distinct`` (distinct blocked words present),
    ``bw_keep`` (1 iff zero hits; C4 keeps only clean pages).

    Scale shape (100 TB): the exploded word stream is pruned MAP-SIDE by
    an inner broadcast equi-join against the blocklist before any
    exchange, so the per-doc aggregate shuffles only blocked-word hits —
    a tiny fraction of the corpus (on a clean corpus, near zero rows).
    Clean docs re-enter via a left join of the (small) hit aggregate
    back onto the doc ids; the corpus side never shuffles. The blocklist
    (the public lists are a few thousand rows) always broadcasts.
    """
    spark = df.sparkSession
    if not isinstance(blocklist, DataFrame):
        blocklist = spark.createDataFrame([(w,) for w in blocklist], "word string")
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_w"),
    ).select(
        id_col,
        F.regexp_replace("_w", r"^[^a-z0-9]+|[^a-z0-9]+$", "").alias("_w"),
    ).filter(F.length("_w") > 0)
    hits = (
        words.join(F.broadcast(blocklist.select(F.lower("word").alias("_w"))), "_w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("bw_hits"),
            F.countDistinct("_w").alias("bw_distinct"),
        )
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("bw_hits", F.lit(0)).alias("bw_hits"),
            F.coalesce("bw_distinct", F.lit(0)).alias("bw_distinct"),
            (F.coalesce("bw_hits", F.lit(0)) == 0).cast("int").alias("bw_keep"),
        )
    )


def span_dedup_keep_first(
    df: DataFrame,
    span: int = 3,
    sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style repeated-span deduplication with keep-first removal
    (Raffel et al. 2020 §2.2: "we removed all but one of any
    three-sentence span occurring more than once in the data set").

    The span unit is a ``sep``-delimited segment — the LINE for log
    corpora (the natural sentence analogue; for prose, pre-insert
    sentence markers with a regexp_replace and pass them as ``sep``).
    Every window of ``span`` consecutive units is hashed (md5-60-bit,
    the SQL-mirrorable trick of operators/dedup.py); for each hash seen
    more than once corpus-wide, the single occurrence with the smallest
    ``(doc_id, position)`` is the keeper and every other occurrence is
    removed: the removal mask is the UNION of the non-keeper
    occurrences' unit ranges, so a kept span overlapping a removed one
    can still lose units (exactly the documented C4 behaviour of
    overlapping spans; the rule is deterministic and order-free).

    Returns ``(doc_id, n_units, n_dup_spans, n_removed_units,
    clean_text)``; documents shorter than ``span`` units pass through
    untouched.

    Scale shape (100 TB): the span-hash stream is one explode (n_units
    rows per doc); the keeper election is a groupBy on the hash whose
    aggregates (``min(struct(doc_id, pos))`` + ``count``) are both
    partial-aggregable, so a corpus-wide boilerplate span collapses to
    one row per map task before the exchange — never a window over the
    hot hash. The join back to occurrences reuses the hash partitioning
    (hot hashes split by AQE skew join). The per-doc rebuild aggregates
    only duplicate START positions (bounded by the doc's own unit
    count) and rebuilds the text with array algebra — no Python.
    """
    # ``sep`` must be a plain literal (no regex metacharacters): it is
    # used both as the split pattern and the rebuild joiner.
    units_col = F.split(F.col(text_col), sep)
    base = df.select(F.col(id_col), F.col(text_col), units_col.alias("_us"))

    # every window of `span` consecutive units → (doc, pos, h)
    h_of = lambda arr: F.conv(F.substring(F.md5(F.array_join(arr, sep)), 1, 15), 16, 10).cast(
        "bigint"
    )
    # guard: sequence(0, n-span) would DESCEND for n < span — short docs
    # contribute no spans at all
    starts = F.when(
        F.size("_us") >= span, F.sequence(F.lit(0), F.size("_us") - span)
    ).otherwise(F.expr("array()").cast("array<int>"))
    spans = base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("pos"), h_of(F.slice("_us", i + 1, span)).alias("h")
                ),
            )
        ).alias("_sp"),
    ).select(id_col, F.col("_sp.pos").alias("pos"), F.col("_sp.h").alias("h"))

    keepers = spans.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_keep"),
        F.count("*").alias("_cnt"),
    )
    dup_starts = (
        spans.join(keepers, "h")
        .filter(
            (F.col("_cnt") > 1)
            & ~(
                (F.col(id_col) == F.col(f"_keep.{id_col}"))
                & (F.col("pos") == F.col("_keep.pos"))
            )
        )
        .select(id_col, "pos")
    )
    # duplicate start positions → removed unit indexes (union of ranges)
    removed = (
        dup_starts.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + span - 1)).alias("_j"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("_j")).alias("_rem"))
    )
    n_dup = dup_starts.groupBy(id_col).agg(F.count("*").cast("bigint").alias("n_dup_spans"))

    out = (
        base.join(removed, id_col, "left")
        .join(n_dup, id_col, "left")
        .select(
            F.col(id_col),
            F.size("_us").cast("bigint").alias("n_units"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce(F.size("_rem"), F.lit(0)).cast("bigint").alias("n_removed_units"),
            # linear rebuild: kept indexes via array_except (hash-based,
            # order-preserving) — NOT filter+array_contains, which is
            # O(n_units × n_removed) on a heavily-duplicated doc
            F.when(F.col("_rem").isNull(), F.col(text_col)).otherwise(
                F.array_join(
                    F.transform(
                        F.array_except(
                            F.sequence(F.lit(0), F.size("_us") - 1), F.col("_rem")
                        ),
                        lambda j: F.element_at("_us", j + 1),
                    ),
                    sep,
                )
            ).alias("clean_text"),
        )
    )
    return out


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over a link graph — the domain-authority signal web
    curation pipelines rank host lists with (the Common Crawl host-rank
    shape). Deterministic power iteration with uniform init, dangling
    mass redistributed uniformly, so Σrank = 1 every round.

    Scale shape per round: ranks live keyed by node; contributions are
    one edges⋈ranks join (both sides hash-partitioned on the join key —
    at rest the edge table is bucketed by src, so this co-locates) and
    ONE groupBy(dst) sum whose map-side partials absorb hot
    authorities; the dangling mass is a 1-row aggregate. Rank state is
    ``localCheckpoint``-ed per round to truncate the iterative lineage
    (the ``kmeans_assign``/closure discipline). Nothing corpus-scale
    ever reaches the driver.

    Returns ``(node, rank double)`` for every node appearing as src or
    dst. Float caveat (documented, same as every iterative float
    operator here): cross-partition sum order makes results equal only
    to ~1e-12 across layouts; the twin test pins 1e-9.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return spark.createDataFrame([], "node string, rank double")
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # static per-round structure: node -> (outdeg or null)
    base = nodes.join(outdeg, nodes["node"] == outdeg["src"], "left").select(
        "node", "outdeg"
    ).localCheckpoint(eager=True)
    ranks = base.select("node", F.lit(1.0 / n).alias("rank"), "outdeg")
    for _ in range(iters):
        dangling = (
            ranks.filter(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            e.join(
                ranks.select(F.col("node").alias("src"), "rank", "outdeg"), "src"
            )
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            base.join(contribs, base["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
                "outdeg",
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", "rank")


def extract_link_graph(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    src_col: str = "source",
) -> DataFrame:
    """Documents → ``(src, dst)`` link-graph edges: the document's
    ``source`` links to every domain its text mentions (per-doc
    DISTINCT, so one doc can't multiply an edge; across docs repeated
    mentions become parallel edges — exactly the multi-edge weighting
    ``pagerank`` consumes, since out-degree counts edge rows). Self
    edges (a source citing its own domain) are kept — PageRank handles
    them like any other edge.

    Map-only until one distinct (pure codegen regexp + explode with
    partial-agg dedup); composes as
    ``pagerank(extract_link_graph(docs))`` for the domain-authority
    curation signal.
    """
    return (
        df.select(
            F.col(id_col),
            F.col(src_col).alias("src"),
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(URL_DOMAIN_RE), 1)
            ).alias("dst"),
        )
        .select(id_col, "src", "dst")
        .distinct()
        .select("src", "dst")
    )
