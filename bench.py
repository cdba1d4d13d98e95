"""Benchmark harness (driver-run per round; also the local feedback loop).

Measures end-to-end parse→enrich→route→aggregate throughput on the
tokenized-log corpus rendered from ``$SPARK_GRAFT_SF_DIR/events.parquet``
(default /root/testdata/sf0.1), on ``local[$SPARK_GRAFT_CPUS]``.

Corpus materialization (render+tokenize to parquet) is OUTSIDE the timed
region — the engine under test starts at the input_hint table
(doc_id, tokens, n_tok, source), exactly like the reference starts at
files on disk.

Prints ONE JSON line:
  {"metric": "...", "value": <e2e sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "sequences_per_sec": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark import entry_queries as EQ
from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused
from super_speedy_syslog_searcher_spark.operators.enrich import enrich
from super_speedy_syslog_searcher_spark.operators.merge import global_sort, with_source_order
from super_speedy_syslog_searcher_spark.operators.route import route_write, sink_counts_from_path
from super_speedy_syslog_searcher_spark.operators.summary import doc_pattern_hit_miss, doc_source_summary
from super_speedy_syslog_searcher_spark.session import get_spark, warm_python_workers

WORK = os.environ.get("S4SPARK_BENCH_DIR", "/tmp/s4spark_bench")


def materialize_corpus(spark, sf_dir: str) -> str:
    """Render + tokenize once (untimed); reuse across runs of the same sf."""
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(WORK, f"corpus_{tag}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        # 128 files so the scan parallelizes regardless of file size
        EQ.rendered_docs(spark, sf_dir).repartition(128).write.mode("overwrite").parquet(path)
    return path


def run_bench(spark, sf_dir: str) -> dict:
    corpus = materialize_corpus(spark, sf_dir)
    out_dir = os.path.join(WORK, "routed_out")
    shutil.rmtree(out_dir, ignore_errors=True)
    docs = spark.read.parquet(corpus)
    n_seq = docs.count()
    warm_python_workers(spark)  # untimed: pay the 32x cold-import once
    timings: dict[str, float] = {}

    def timed(name, fn, runs=2):
        """Best-of-N wall time — the sandbox host has sporadic multi-10x
        throttling windows; min-of-2 (hyperfine-style) reports the
        engine's actual cost."""
        best = None
        for _ in range(runs):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    # q1: full end-to-end — parse → sessionize → enrich → route write → aggs
    def q_e2e():
        msgs = parse_messages_fused(docs, reference_year=EQ.REFERENCE_YEAR)
        enriched = enrich(msgs, EQ.enrichment_df(spark))
        # bounded-file fan-out: the (sink_key, salt) pre-shuffle costs one
        # exchange but caps commit work at ~file_tasks files instead of
        # tasks × sinks — measured 1.6-1.7× faster at EVERY host-contention
        # level (BENCH.md round 3), and the right shape at 10^12 rows where
        # unbounded small files would swamp the table's metadata layer
        route_write(enriched, out_dir, file_tasks=2 * spark.sparkContext.defaultParallelism)
        sink_counts_from_path(spark, out_dir).collect()

    # q2: parse-only throughput (the fused kernel: split → parse →
    # sessionize → year fix)
    def q_parse():
        parse_messages_fused(docs, reference_year=EQ.REFERENCE_YEAR).count()

    # q3: datetime-window filter + per-source agg
    def q_filter():
        msgs = parse_messages_fused(docs, reference_year=EQ.REFERENCE_YEAR)
        msgs.filter(F.col("ts").between("2024-01-10", "2024-01-21")).groupBy("source").agg(
            F.count("*"), F.min("ts"), F.max("ts")
        ).collect()

    # q4: global merge-sort (range partition + in-partition sort), noop sink
    def q_merge():
        msgs = parse_messages_fused(docs, reference_year=EQ.REFERENCE_YEAR)
        merged = global_sort(with_source_order(msgs, sources_in_order=[f"ev{i}" for i in range(8)]))
        merged.write.format("noop").mode("overwrite").save()

    # q5: summary rollup + per-pattern hit counts from the docs table and
    # the persisted kernel output (run_pipeline's composition, no window)
    def q_summary():
        msgs = parse_messages_fused(docs, reference_year=EQ.REFERENCE_YEAR).persist()
        doc_source_summary(docs, msgs, msgs).collect()
        doc_pattern_hit_miss(docs, msgs).collect()
        msgs.unpersist()

    # q6/q7: training-data operators over the documents/embeddings tables
    def q_dedup():
        from super_speedy_syslog_searcher_spark import entry_queries_data as EQD

        EQD.q_dedup_minhash_lsh(spark, sf_dir).count()

    def q_ann():
        # the brute kernel only — the r4 registry merge added an LSH leg
        # to q_ann_cosine_topk, but this bench series has always timed
        # the brute-force scan, so keep the timed region identical
        from super_speedy_syslog_searcher_spark.operators.similarity import cosine_topk

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(F.col("vec_id") < 10)
        cosine_topk(e, q, k=5).count()

    def q_pq():
        # PQ train (2 rounds) + encode + ADC top-k for 10 queries — the
        # compressed-index ANN path end to end (r5 session 2)
        from super_speedy_syslog_searcher_spark.operators.similarity import (
            pq_encode,
            pq_topk_adc,
            pq_train,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        books = pq_train(e, m=4, ksub=16, iters=2)
        codes = pq_encode(e, books)
        q = e.filter(F.col("vec_id") < 10)
        pq_topk_adc(codes, q, books, k=5).count()

    def q_simhash():
        from super_speedy_syslog_searcher_spark import entry_queries_data as EQD

        EQD.q_dedup_simhash(spark, sf_dir).count()

    def q_substring():
        from super_speedy_syslog_searcher_spark import entry_queries_data as EQD

        EQD.q_dedup_substring(spark, sf_dir).count()

    # q8: token-domain headline — GPT-style sequence packing (two-phase
    # distributed prefix sum + chunk assembly) over the pre-materialized
    # corpus, so the timed region is the packing operator, not the render
    def q_pack():
        from super_speedy_syslog_searcher_spark.operators.tokens import pack_sequences

        pack_sequences(docs, max_len=512).count()

    # q9: trigram Stupid Backoff LM scoring (r4.3) — the corpus trigram
    # stream against five broadcast count tables; measures the pure
    # Column n-gram algebra + broadcast-lookup path at corpus scale
    def q_sb():
        from super_speedy_syslog_searcher_spark.operators.tokens import (
            stupid_backoff_logprob,
        )

        stupid_backoff_logprob(docs).count()

    # q10: unigram-LM tokenizer training (r4.4) — the iterative hard-EM
    # loop over the documents table: substring seed + 2 Viterbi E-steps
    # + final encode = 4 corpus passes; measures the map-only Arrow
    # E-step and the vocabulary-keyed aggregates end to end
    def q_unigram():
        from super_speedy_syslog_searcher_spark.operators.tokens import train_unigram

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        _vocab, seg = train_unigram(
            d, vocab_size=512, max_piece_len=6, seed_size=4000, n_rounds=2
        )
        seg.count()

    # q11: log analytics (r4.5) — Drain-style template mining + burst
    # detection over the parsed stream (timed region includes the parse,
    # like dt_filter_agg: the analytics consume parse output)
    def q_analytics():
        from super_speedy_syslog_searcher_spark.operators.summary import rate_anomalies
        from super_speedy_syslog_searcher_spark.operators.templates import mine_templates

        msgs = parse_messages_fused(docs, reference_year=EQ.REFERENCE_YEAR).persist()
        mine_templates(msgs, group_cols=("source",), text_col="text").count()
        rate_anomalies(msgs, bucket="hour").count()
        msgs.unpersist()

    # q12: event-funnel analytics (r5) — ordered-step funnel + cohort
    # retention over the raw events table; measures the single
    # entity-key shuffle + whole-stage-codegen array step-walk path and
    # the bounded distinct-active-days retention aggregate
    def q_funnel():
        from super_speedy_syslog_searcher_spark.operators.funnel import (
            cohort_retention,
            funnel_conversion,
        )

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        funnel_conversion(ev, EQ.FUNNEL_STEPS).collect()
        cohort_retention(ev).count()

    # e2e runs first and pays whole-write-path JIT on its first rep;
    # 3 runs so the reported min is steady-state even in a window with
    # one throttling spike
    timed("e2e_parse_enrich_route_agg", q_e2e, runs=3)
    timed("parse_only", q_parse)
    timed("dt_filter_agg", q_filter)
    timed("merge_sort", q_merge)
    timed("summary_rollup", q_summary)
    timed("dedup_minhash_lsh", q_dedup)
    timed("dedup_simhash", q_simhash)
    timed("dedup_substring", q_substring)
    timed("ann_cosine_topk", q_ann)
    timed("ann_pq_adc", q_pq)
    timed("tokens_pack", q_pack)
    timed("tokens_stupid_backoff", q_sb)
    timed("log_analytics", q_analytics)
    timed("event_funnel_retention", q_funnel)
    # single rep: the trainer is 4 corpus passes by construction and its
    # integer-count determinism makes reps redundant for correctness
    timed("tokens_unigram_train", q_unigram, runs=1)

    e2e = timings["e2e_parse_enrich_route_agg"]
    return {
        "metric": "end-to-end parse→enrich→route→aggregate wall time (tokenized corpus)",
        "value": e2e,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "n_sequences": n_seq,
        "sequences_per_sec": round(n_seq / e2e, 1) if e2e else None,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # serialize against pytest / the scaling watcher (VERDICT r4 #10):
    # timing while the suite drains on the same host measures contention,
    # not the engine. The driver must still get a JSON line, so after a
    # bounded wait we proceed and RECORD the contention instead of
    # silently timing a polluted window.
    from super_speedy_syslog_searcher_spark.hostlock import HostLock, HostLockTimeout

    contended = False
    try:
        lock = HostLock("bench.py", timeout=900)
        lock.__enter__()
    except HostLockTimeout:
        lock, contended = None, True
    try:
        spark = get_spark(app_name="s4spark-bench")
        result = run_bench(spark, sf_dir)
        if contended:
            result["host_lock_contended"] = True
        print(json.dumps(result))
    finally:
        if lock is not None:
            lock.__exit__(None, None, None)


if __name__ == "__main__":
    main()
