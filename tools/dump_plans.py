"""Dump the physical plans of the headline operators to PLANS.md with
commentary — the `.explain("formatted")` evidence the build doctrine asks
for ("iterate until it's the plan you'd want")."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark import entry_queries as EQ
from super_speedy_syslog_searcher_spark import entry_queries_curation as EQC
from super_speedy_syslog_searcher_spark import entry_queries_data as EQD
from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused
from super_speedy_syslog_searcher_spark.operators.enrich import enrich
from super_speedy_syslog_searcher_spark.operators.dedup import (
    lsh_band_index,
    lsh_candidate_pairs,
    lsh_pairs_against_index,
    simhash_pairs,
)
from super_speedy_syslog_searcher_spark.operators.merge import global_sort, with_source_order
from super_speedy_syslog_searcher_spark.operators.tokens import pack_sequences, stupid_backoff_logprob, bigram_logprob
from super_speedy_syslog_searcher_spark.session import get_spark

SF = "/root/testdata/sf0.001"


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def trim(plan: str, max_lines: int = 40) -> str:
    lines = [l.rstrip() for l in plan.splitlines() if l.strip()]
    return "\n".join(lines[:max_lines])


def main() -> None:
    spark = get_spark(cores=4)
    docs = EQ.rendered_docs(spark, SF)
    msgs = parse_messages_fused(docs, reference_year=EQ.REFERENCE_YEAR)
    enriched = enrich(msgs, EQ.enrichment_df(spark))
    merged = global_sort(with_source_order(enriched, sources_in_order=[f"ev{i}" for i in range(8)]))
    filtered = msgs.filter(F.col("ts").between("2024-01-10", "2024-01-21"))
    documents = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    lsh = lsh_candidate_pairs(documents)
    simhash = simhash_pairs(documents)

    sections = [
        (
            "Fused parse → messages (docs scan → ONE Python stage)",
            msgs,
            "No exchange anywhere: the scan feeds a single MapInPandas that "
            "splits, parses, and sessionizes. Column pruning reaches the "
            "scan (only doc_id/source/tokens read).",
        ),
        (
            "Messages + broadcast enrichment",
            enriched,
            "Exactly one BroadcastHashJoin and its broadcast exchange — the "
            "fact side never shuffles.",
        ),
        (
            "Datetime-window filter above the Python stage",
            filtered,
            "The BETWEEN predicate sits in a codegen'd Filter directly above "
            "the Python stage (Catalyst cannot push a predicate on a "
            "UDF-produced column any lower). On a ts-partitioned Iceberg "
            "input the same predicate additionally prunes partitions at "
            "the scan.",
        ),
        (
            "Global merge-sort (range partition + in-partition sort)",
            merged,
            "One range exchange over the COMPOSITE key (ts, ts_ns, "
            "source_order, source, doc_id, msg_no) — equal-ts rows spread "
            "across partitions by the tie-break columns (skew salting), "
            "then an in-partition sort; no single-node sort ever sees all "
            "rows. With a source list (as here) source_order is a "
            "literal-map lookup in the codegen'd Project under the "
            "exchange: no order broadcast, no join. With no list it is one "
            "constant (the in-partition sort drops it) and the source name "
            "breaks the tie; no Spark job runs to build either plan. With "
            "no explicit partition count the range exchange is "
            "AQE-coalescable (adjacent ranges merge, the order holds).",
        ),
        (
            "MinHash LSH candidate pairs (bucket join, no cross product)",
            lsh,
            "Gram construction + xxhash64 stay in the codegen'd scan "
            "projection; ONE ArrowEvalPython computes 64 band buckets per "
            "doc (k-slot signatures never leave Python); the self-join is "
            "a hash join on (band, bucket) — candidate generation touches "
            "only bucket-mates, never all pairs.",
        ),
        (
            "SimHash Hamming pairs (4×15-bit band pigeonhole)",
            simhash,
            "md5-based word hashes are a JVM projection; the bit-majority "
            "UDF emits one long per doc; banding explodes 4 short keys and "
            "the join is again hash-equality — the Hamming verify runs on "
            "the tiny candidate set.",
        ),
        (
            "ANN top-k, brute ∪ sign-LSH (r4 merged driver row)",
            EQD.q_ann_cosine_topk(spark, SF),
            "The union's first leg is the brute kernel (broadcast queries "
            "over a column-pruned corpus scan — the BroadcastNestedLoopJoin "
            "— with norms precomputed once); the second is the sign-LSH "
            "kernel, round-3 shape (VERDICT r2 #2/#3): the bucket scan projects "
            "`(neighbor_id, t, bk)` only — no embedding enters the "
            "OR-amplification `distinct`, which is a partial/final "
            "HashAggregate keyed on bare `(query_id, neighbor_id)`. The "
            "deduped candidate-id set and the query side are both "
            "broadcast, so the scoring pass is a map-only double-broadcast "
            "join over a column-pruned corpus scan; per-row `cnorm`/`qnorm` "
            "are computed once in the scan projection and the per-pair "
            "cost is a single O(dim) dot fold. Top-k runs through "
            "`WindowGroupLimit` (partial before the exchange), so only ≤k "
            "rows per query reach the final rank.",
        ),
        (
            "Sequence packing chunk map (two-phase distributed prefix sum)",
            pack_sequences(docs, max_len=512),
            "GPT-style concat-and-chunk over each source's token stream: "
            "per-partition token subtotals (a few hundred longs) are the "
            "ONLY thing aggregated centrally; each partition then offsets "
            "its own rows, so the chunk map is one repartition-by-"
            "(source, doc_id) exchange plus map-side arithmetic — no "
            "window over the full stream, no per-source single task.",
        ),
        (
            "Hashed bigram-LM quality score (bounded count tables broadcast)",
            bigram_logprob(docs),
            "Both count tables are keyed on FIXED hash buckets, so they "
            "broadcast at any corpus size and the pair stream map-joins "
            "them without shuffling; the only wide exchanges are the "
            "bounded bucket aggregates and the per-doc mean (map-side "
            "partial agg).",
        ),
        (
            "Exact-substring duplicate spans (gram-keyed df filter + per-doc islands)",
            EQD.q_dedup_substring(spark, SF),
            "Positioned word k-grams are pure zip_with/posexplode Column "
            "algebra; the cross-doc df filter is ONE gram-keyed exchange "
            "with map-side partial aggregation (bounded by the duplicated-"
            "gram vocabulary), the join-back is a leftsemi on the same key "
            "(broadcast here, co-partitioned SMJ at scale), and the span "
            "merge windows partition by doc_id — never a global window, "
            "never a cross join.",
        ),
        (
            "Benchmark decontamination (bench grams broadcast)",
            EQC.q_decontaminate(spark, SF),
            "The corpus gram stream map-joins a BroadcastExchange of the "
            "benchmark's distinct grams — the 100-TB side never shuffles "
            "for candidate generation; only hit rows reach the per-doc "
            "aggregate, and the join-back of hit stats to the corpus is "
            "id-keyed (AQE turns it into a broadcast when contamination "
            "is rare).",
        ),
        (
            "Trigram Stupid Backoff LM score (5 broadcast count-table lookups)",
            stupid_backoff_logprob(docs),
            "The trigram stream is pure zip_with/explode Column algebra; "
            "its five count lookups (pruned trigram, context bigram, "
            "pruned backoff bigram, two unigram aliases) are ALL "
            "BroadcastHashJoins over hash-bucket-bounded tables, so the "
            "corpus never shuffles on an n-gram key — the only wide "
            "exchanges are the bounded bucket aggregates and the final "
            "per-doc mean.",
        ),
        (
            "HTML main-content extraction (map-only regex chain)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.curation",
                fromlist=["extract_html_text"],
            ).extract_html_text(
                documents.select("doc_id", F.col("text").alias("html"))
            ),
            "The whole trafilatura-stage chain (subtree drops, block-close "
            "to newline, tag strip, entity decode, whitespace canon) is one "
            "codegen'd Project over the scan — zero exchanges, zero Python; "
            "at crawl scale the stage runs at scan speed.",
        ),
        (
            "n-gram novelty (gram df via partial agg + co-partitioned join-back)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.curation",
                fromlist=["ngram_novelty"],
            ).ngram_novelty(documents),
            "Distinct (doc, gram) pairs are Column algebra; the gram "
            "doc-frequency aggregate is two-phase (a boilerplate gram in "
            "10^7 docs reaches the exchange once per task), and the "
            "enrichment join back reuses the gram hash partitioning before "
            "the per-doc aggregate — no quadratic bucket, no cross join.",
        ),
        (
            "Incremental LSH dedup (crawl delta vs persisted band index)",
            lsh_pairs_against_index(documents, lsh_band_index(documents.limit(50)))[0],
            "The delta is banded ONCE (single ArrowEvalPython, "
            "localCheckpoint shared by both join legs) and joined against "
            "the stored index on (band, bucket) — the index is an "
            "append-only narrow table that is never re-banded; with a "
            "band-partitioned layout only matching buckets are read, and "
            "AQE broadcasts the (typically tiny) delta side.",
        ),
        (
            "BM25 keyword retrieval (broadcast query-term prune before any shuffle)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.textstats",
                fromlist=["bm25_topk"],
            ).bm25_topk(
                documents,
                spark.createDataFrame(
                    EQD.BM25_DEMO_QUERIES, "query_id string, query string"
                ),
                k=5,
            ),
            "The corpus term stream meets a BroadcastHashJoin on the "
            "distinct query-term set straight off the scan — the only "
            "full-corpus work is the codegen'd split/explode projection. "
            "Everything after the prune (tf aggregate, |query terms|-row "
            "idf broadcast, per-(query, doc) scoring aggregate) runs on "
            "the matched-rows stream, and the final top-k is a "
            "WindowGroupLimit over bounded per-query partitions.",
        ),
        (
            "C4 keep-first span dedup (partial-aggregable keeper election)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.curation",
                fromlist=["span_dedup_keep_first"],
            ).span_dedup_keep_first(documents, span=3, sep=" "),
            "Span hashes are md5 Column algebra in the scan projection; "
            "the keeper election is a groupBy on the hash whose aggregates "
            "(min(struct(doc_id, pos)) + count) are both map-side partial — "
            "a corpus-wide boilerplate span collapses to one row per task "
            "before the exchange, never a window over the hot hash. The "
            "occurrence join-back reuses the hash key; the per-doc rebuild "
            "aggregates only duplicate start positions.",
        ),
        (
            "Delta-vs-base exact dedup (Bloom prune, base never shuffles raw)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.dedup",
                fromlist=["delta_dedup_new_docs"],
            ).delta_dedup_new_docs(documents.limit(200), documents, mode="bloom"),
            "The base scan meets the broadcast 1-row Bloom bitmap "
            "(getbit probe chain in whole-stage codegen) BEFORE any "
            "exchange — only the ~fpp leak plus true matches reach the "
            "distinct, and the final left-anti against the delta is a "
            "BroadcastHashJoin. The naive delta-anti-base plan would "
            "shuffle the full base on the fingerprint.",
        ),
        (
            "Drain-style template mining (map-only mask chain + one exchange)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.templates",
                fromlist=["mine_templates"],
            ).mine_templates(
                documents.withColumn("source", F.lit("s")), text_col="text"
            ),
            "The ordered mask chain is one codegen'd regexp_replace "
            "Project over the scan; the only wide exchange keys on "
            "(source, template) with map-side partials absorbing hot "
            "templates, and the per-group totals broadcast back for the "
            "share column.",
        ),
        (
            "Grok named-field extraction (compile once, map-only codegen)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.grok",
                fromlist=["grok_parse"],
            ).grok_parse(
                documents.select("doc_id", F.col("text")),
                "%{WORD:head} %{GREEDYDATA:rest}",
            ),
            "The grok expression compiles to one plain regex on the "
            "driver; every field is a codegen'd regexp_extract in a "
            "single Project over the scan — zero exchanges, zero Python, "
            "zero state. At 100 TB the stage runs at scan speed.",
        ),
        (
            "UL2 span corruption (md5-deterministic spans, map-only)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.tokens",
                fromlist=["ul2_span_corruption"],
            ).ul2_span_corruption(
                EQ.rendered_docs(spark, SF).select("doc_id", "tokens")
            ),
            "Span count, segment boundaries, and in-segment offsets are "
            "all md5/sequence/transform Column algebra; inputs and "
            "targets assemble via flatten(transform(...)) in the same "
            "Project — zero exchanges, zero Python, layout-invariant by "
            "construction.",
        ),
        (
            "Volume burst detection (histogram-first, integer-exact moments)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.summary",
                fromlist=["rate_anomalies"],
            ).rate_anomalies(
                spark.read.parquet(f"{SF}/events.parquet").select(
                    F.concat(F.lit("ev"), (F.col("user_id") % 8).cast("string")).alias("source"),
                    "ts",
                )
            ),
            "Raw rows collapse to the (source, bucket, n) histogram in ONE "
            "partial-agg exchange; the per-source moments (Σn, Σn², cnt — "
            "exact integers, so the derived doubles are bit-stable across "
            "partitionings) aggregate the bounded histogram and broadcast "
            "back.",
        ),
        (
            "RFC 5424 protocol parse + PRI decode (map-only codegen)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.syslog_rfc",
                fromlist=["parse_rfc5424"],
            ).parse_rfc5424(
                documents.select(
                    F.concat(
                        F.lit("<165>1 2024-01-02T03:04:05.123456Z h a p m - "),
                        F.col("text"),
                    ).alias("text")
                )
            ),
            "Header split, NILVALUE nulling, PRI validity and the "
            "facility/severity array lookups are all one codegen'd "
            "Project chain over the scan — zero exchanges, zero Python. "
            "The protocol stage runs at scan speed like grok.",
        ),
        (
            "HDR quantile sketch (bounded mergeable histogram first)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.sketch",
                fromlist=["hdr_quantiles"],
            ).hdr_quantiles(
                spark.read.parquet(f"{SF}/documents.parquet").select("source", "n_chars")
            ),
            "The raw column collapses to the (stratum, rep) histogram in "
            "ONE partial-agg exchange (rep = integer bit-shift bucketing "
            "in the scan projection); the cumulative windows then key on "
            "bounded sketch rows only (≤ 2^k·octaves per stratum) — raw "
            "data never meets a window.",
        ),
        (
            "HyperLogLog distinct (register partial-agg, integer harmonic sum)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.sketch",
                fromlist=["hll_profile"],
            ).hll_profile(
                spark.read.parquet(f"{SF}/events.parquet").select(
                    F.concat(F.lit("ev"), (F.col("user_id") % 8).cast("string")).alias("source"),
                    "event_id",
                ),
                "event_id",
            ),
            "Register/rho math is codegen'd integer work in the scan "
            "projection; registers form in one partial-aggregable groupBy "
            "(exchange ≤ groups × 512 rows) and the per-group summary is "
            "a second bounded aggregate. The estimate is one division — "
            "no float summation whose order could vary with layout.",
        ),
        (
            "Priority sampling (weighted WOR, partial top-k + bounded tau)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.curation",
                fromlist=["priority_sample"],
            ).priority_sample(
                spark.read.parquet(f"{SF}/documents.parquet").select(
                    "doc_id", "lang", "n_chars"
                ),
                20,
                weight_col="n_chars",
            ),
            "The md5 uniform and the w/u priority are scan-projection "
            "Column algebra; the per-stratum rank<=k+1 window goes "
            "through WindowGroupLimit (partial top-k below the exchange — "
            "a hot stratum never funnels raw rows into one sort); tau is "
            "a |strata|-row aggregate broadcast back.",
        ),
        (
            "Distribution drift (TV distance on histogram rows only)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.summary",
                fromlist=["distribution_drift"],
            ).distribution_drift(
                spark.read.parquet(f"{SF}/events.parquet")
                .filter(F.col("event_id") % 2 == 0)
                .select(
                    F.concat(F.lit("ev"), (F.col("user_id") % 8).cast("string")).alias("source"),
                    "event_type",
                ),
                spark.read.parquet(f"{SF}/events.parquet")
                .filter(F.col("event_id") % 2 == 1)
                .select(
                    F.concat(F.lit("ev"), (F.col("user_id") % 8).cast("string")).alias("source"),
                    "event_type",
                ),
                "event_type",
            ),
            "Each snapshot collapses to its (group, key) histogram via a "
            "partial-agg groupBy; the full-outer join and the cross-"
            "multiplied integer numerator run on histogram rows (bounded "
            "by distinct keys), never raw rows.",
        ),
        (
            "Funnel conversion (one entity shuffle, codegen step walk)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.funnel",
                fromlist=["funnel_conversion"],
            ).funnel_conversion(
                spark.read.parquet(f"{SF}/events.parquet"),
                ["view", "click", "purchase"],
            ),
            "The stream is filtered to funnel step types BEFORE the one "
            "hash exchange on the entity key; the strictly-after step "
            "walk is array algebra inside codegen (no second shuffle, no "
            "window over raw rows); the per-step counts are one "
            "partial-aggregable global agg plus a broadcast of the "
            "1-row distinct-entity total.",
        ),
        (
            "Cohort retention (active-day sets bounded by calendar span)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.funnel",
                fromlist=["cohort_retention"],
            ).cohort_retention(spark.read.parquet(f"{SF}/events.parquet")),
            "One entity-key shuffle builds (cohort, distinct-day set) per "
            "entity — state bounded by the calendar span, not event "
            "count; the exploded (cohort, offset) count partial-aggs, and "
            "cohort sizes come back as a broadcast join.",
        ),
        (
            "Interval enrichment, broadcast strategy (zero fact shuffle)",
            __import__(
                "super_speedy_syslog_searcher_spark.entry_queries",
                fromlist=["_interval_dim"],
            )._interval_dim(spark)
            and __import__(
                "super_speedy_syslog_searcher_spark.operators.enrich",
                fromlist=["interval_enrich"],
            ).interval_enrich(
                spark.read.parquet(f"{SF}/events.parquet").select(
                    F.col("event_id").alias("doc_id"),
                    F.lit(0).alias("msg_no"),
                    F.concat(F.lit("ev"), (F.col("user_id") % 8).cast("string")).alias("source"),
                    "ts",
                ),
                __import__(
                    "super_speedy_syslog_searcher_spark.entry_queries",
                    fromlist=["_interval_dim"],
                )._interval_dim(spark),
            ),
            "Window spans collapse to ONE sorted array per key and "
            "broadcast; each fact picks its containing window with a "
            "codegen array filter — the fact stream never shuffles. The "
            "bucketed strategy (giant interval tables) trades this for a "
            "co-partitioned equi-join on (key, time-bucket) — still never "
            "a theta join.",
        ),
        (
            "Z-order layout (one sampled range exchange, no UDF)",
            __import__(
                "super_speedy_syslog_searcher_spark.operators.zorder",
                fromlist=["zorder_layout"],
            ).zorder_layout(
                spark.read.parquet(f"{SF}/events.parquet").select(
                    "event_id",
                    __import__(
                        "super_speedy_syslog_searcher_spark.operators.zorder",
                        fromlist=["day_code"],
                    ).day_code("ts", "2024-01-01", 8).alias("day"),
                    __import__(
                        "super_speedy_syslog_searcher_spark.operators.zorder",
                        fromlist=["hash_bucket"],
                    ).hash_bucket("user_id", 6).alias("bucket"),
                ),
                [F.col("day"), F.col("bucket")],
                bits=8,
            ),
            "The Morton key is a pure shift/mask expression chain inside "
            "WholeStageCodegen; the layout is exactly one RangePartitioning "
            "exchange (sampled bounds — balanced files under any skew) "
            "plus an in-partition sort. Footer-stats pruning does the "
            "rest at read time; queries are unchanged.",
        ),
    ]

    # product quantization (r5 session 2): encode is map-only; the ADC
    # scan's only exchange carries per-batch local top-k, never the corpus
    import numpy as np

    from super_speedy_syslog_searcher_spark.operators.similarity import (
        pq_encode,
        pq_topk_adc,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    m = 4
    books = np.random.RandomState(0).randn(m, 16, dim // m)
    codes = pq_encode(emb, books)
    sections.append(
        (
            "PQ encode (map-only compression to m codes per vector)",
            codes,
            "One ArrowEvalPython stage over the scan — zero exchanges; "
            "the corpus compresses to m small ints per vector without "
            "ever shuffling. The codebooks ride the closure (m*ksub*dsub "
            "floats, bounded).",
        )
    )
    sections.append(
        (
            "PQ ADC top-k (per-batch local top-k, bounded rank exchange)",
            pq_topk_adc(codes, emb.limit(4), books, k=5),
            "The ADC scan is one mapInPandas over the codes; each batch "
            "emits at most |queries|*k rows, so the single exchange into "
            "the per-query rank window moves batches*|queries|*k rows — "
            "never corpus-scale data. Query LUTs are built once on the "
            "driver from the bounded query set.",
        )
    )
    from super_speedy_syslog_searcher_spark.operators.curation import badwords_filter
    from super_speedy_syslog_searcher_spark.operators.dedup import fuzzy_join
    from super_speedy_syslog_searcher_spark.operators.similarity import pca_fit, pca_project
    from super_speedy_syslog_searcher_spark.operators.sketch import mg_heavy_hitters
    from super_speedy_syslog_searcher_spark.operators.tokens import apply_wordpiece

    docs_tbl = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    sections.append(
        (
            "C4 bad-word filter (broadcast-pruned word stream)",
            badwords_filter(docs_tbl, ["dup", "slow"]),
            "The exploded word stream meets the blocklist in a "
            "BroadcastHashJoin BEFORE any exchange, so the per-doc "
            "aggregate shuffles only blocked-word hits — near zero rows "
            "on a clean corpus; the corpus side never shuffles on the "
            "word key.",
        )
    )
    doms = docs_tbl.select(F.substring("text", 1, 12).alias("domain")).distinct()
    canon = spark.createDataFrame([("the fast key",)], "canon string")
    sections.append(
        (
            "Fuzzy string join, segment strategy (PassJoin pigeonhole)",
            fuzzy_join(
                doms, canon, max_dist=1,
                left_id="domain", left_col="domain",
                right_id="canon", right_col="canon",
            ),
            "Candidate generation is a pure equi hash join on the "
            "(segment, seg_no, length) key — right strings explode to "
            "d+1 segments, left strings to a constant-size substring "
            "lattice; no CartesianProduct or BroadcastNestedLoopJoin "
            "anywhere in the plan (regression-tested). Verification is "
            "one codegen levenshtein over candidate pairs only.",
        )
    )
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        F.concat(F.lit("ev"), (F.col("user_id") % 8).cast("string")).alias("source"),
        F.col("event_type").alias("key"),
    )
    sections.append(
        (
            "Misra-Gries heavy hitters (bounded map-side summaries)",
            mg_heavy_hitters(ev, "key", k=16),
            "Stage 1 is map-only: each task reduces its batches to <= "
            "k-1 counter rows per group, so the single exchange carries "
            "tasks*(k-1) rows per group regardless of key cardinality; "
            "the rank window and k-th-largest join then run over that "
            "bounded table, never the corpus.",
        )
    )
    emb2 = spark.read.parquet(f"{SF}/embeddings.parquet")
    mean, comps, evar = pca_fit(emb2.limit(200), k=4)
    sections.append(
        (
            "PCA projection (map-only matmul against the fitted basis)",
            pca_project(emb2, mean, comps, evar),
            "The fit itself is one map-only moments stage (each batch "
            "emits a single (n, sum, X'X) row; the driver reduces "
            "#tasks rows) — the projection shown here is the corpus-"
            "touching half: one ArrowEvalPython stage, zero exchanges, "
            "the (k, d) basis riding the closure.",
        )
    )
    toks = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(F.split("text", ""), lambda c: F.ascii(c)).alias("tokens"),
    )
    sections.append(
        (
            "WordPiece maximum-munch encode (one Arrow stage)",
            apply_wordpiece(toks, [(0, 116, 104, 1000, 9), (1, 1000, 101, 1001, 7)]),
            "Longest-match-first inference is a single map-only "
            "ArrowEvalPython stage — the piece trie rides the closure "
            "(bounded by vocabulary); zero exchanges, embarrassingly "
            "parallel like apply_bpe.",
        )
    )

    out = ["# PLANS — physical plans of the headline operators\n",
           f"Generated by `python tools/dump_plans.py` at sf0.001.\n"]
    for title, df, comment in sections:
        plan = trim(formatted(df), max_lines=60)
        n_ex = len(re.findall(r"^\(\d+\) \w*Exchange", formatted(df), re.M))
        out.append(f"## {title}\n\n{comment}\n\nExchanges in plan: {n_ex}\n\n```\n{plan}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
