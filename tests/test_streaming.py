"""Structured Streaming tests: the streaming pipeline must produce the
same routed rows as the batch pipeline on the same corpus."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def stream_dirs(tmp_path):
    return {
        "input": str(tmp_path / "in"),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _drain(q, done, timeout_s=240):
    """Stop a query that cannot self-terminate: availableNow +
    ProcessingTimeTimeout keeps the query alive (registered timers imply
    future work — correct for production streams), so `awaitTermination`
    would burn its full timeout. Poll until `done()` sees the expected
    sink state, then stop. Raises on deadline so a hung query fails the
    test instead of silently passing on partial output."""
    import time as _t

    t0 = _t.time()
    while not q.awaitTermination(2):
        try:
            if done():
                break
        except Exception:
            pass  # sink not readable yet (no committed batch)
        if _t.time() - t0 > timeout_s:
            q.stop()
            raise AssertionError("streaming query did not reach expected output")
    q.stop()
    q.awaitTermination(60)


def _write_docs(spark, corpus, path):
    docs_pdf, enrich_pdf, _ = corpus
    df = spark.createDataFrame(docs_pdf).select(
        "doc_id",
        F.col("tokens").cast("array<int>").alias("tokens"),
        F.col("n_tok").cast("int").alias("n_tok"),
        "source",
    )
    df.repartition(4).write.mode("overwrite").parquet(path)
    return spark.createDataFrame(enrich_pdf)


def test_stream_matches_batch(spark, corpus, stream_dirs):
    from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused
    from super_speedy_syslog_searcher_spark.operators.enrich import enrich
    from super_speedy_syslog_searcher_spark.streaming.pipeline import stream_pipeline

    enrichment = _write_docs(spark, corpus, stream_dirs["input"])
    q = stream_pipeline(
        spark, stream_dirs["input"], stream_dirs["out"], stream_dirs["ckpt"], enrichment,
        reference_year=2023,
    )
    q.awaitTermination(300)

    routed = spark.read.parquet(stream_dirs["out"])
    batch_msgs = enrich(
        parse_messages_fused(spark.read.parquet(stream_dirs["input"]), reference_year=2023),
        enrichment,
    )
    got = {(r["doc_id"], r["msg_no"]) for r in routed.select("doc_id", "msg_no").collect()}
    want = {(r["doc_id"], r["msg_no"]) for r in batch_msgs.select("doc_id", "msg_no").collect()}
    assert got == want
    # token-array invariant carried through the streaming path
    sample = routed.select("doc_id", "msg_no", "tokens", "text").limit(20).collect()
    for r in sample:
        assert "".join(map(chr, r["tokens"])) == r["text"]


def test_stream_resume_is_idempotent(spark, corpus, stream_dirs):
    from super_speedy_syslog_searcher_spark.streaming.pipeline import stream_pipeline

    enrichment = _write_docs(spark, corpus, stream_dirs["input"])
    q = stream_pipeline(spark, stream_dirs["input"], stream_dirs["out"], stream_dirs["ckpt"], enrichment)
    q.awaitTermination(300)
    n1 = spark.read.parquet(stream_dirs["out"]).count()
    # restart with same checkpoint and no new input → no duplicate writes
    q2 = stream_pipeline(spark, stream_dirs["input"], stream_dirs["out"], stream_dirs["ckpt"], enrichment)
    q2.awaitTermination(300)
    n2 = spark.read.parquet(stream_dirs["out"]).count()
    assert n1 == n2


def test_windowed_counts_and_late_metric(spark, corpus):
    from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused
    from super_speedy_syslog_searcher_spark.streaming.pipeline import late_rows_metric, windowed_sink_counts

    docs_pdf, enrich_pdf, _ = corpus
    msgs = parse_messages_fused(spark.createDataFrame(docs_pdf), reference_year=2023)
    # batch-mode execution of the watermarked aggregation plan
    counts = windowed_sink_counts(msgs, spark.createDataFrame(enrich_pdf)).collect()
    assert sum(r["messages"] for r in counts) == msgs.count()
    late = late_rows_metric(msgs).collect()
    assert all(r["late_rows"] == 0 for r in late)  # generator is monotonic per doc


def test_late_metric_numeric_arrival_beyond_padding(spark):
    """Arrival order must be numeric on the doc index, not lexicographic:
    'a/1000000' arrives AFTER 'a/999999' even though it sorts before it as
    a string (doc_ids are zero-padded to 6 digits, sources/tokenized.py).
    Doc 1000000 carries a timestamp 2h behind doc 999999's max → exactly
    one late row under a 1h watermark; lexicographic ordering would see
    the rows in the reverse order and count zero."""
    import datetime as dt

    from super_speedy_syslog_searcher_spark.streaming.pipeline import late_rows_metric

    t0 = dt.datetime(2023, 6, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    rows = [
        ("a/999999", "a", 1, t0, 1),
        ("a/1000000", "a", 1, t0 - dt.timedelta(hours=2), 1),
    ]
    msgs = spark.createDataFrame(rows, "doc_id string, source string, msg_no int, ts timestamp, n_lines int")
    late = {r["source"]: r["late_rows"] for r in late_rows_metric(msgs, watermark="1 hour").collect()}
    assert late == {"a": 1}


def test_late_metric_keeps_null_source_group(spark):
    """A NULL source is its own audit group (groupBy keeps NULL keys);
    the two-phase prefix join must be null-safe or those rows vanish."""
    import datetime as dt

    from super_speedy_syslog_searcher_spark.streaming.pipeline import late_rows_metric

    t0 = dt.datetime(2023, 6, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    rows = [
        ("x/000001", None, 1, t0, 1),
        ("x/000002", None, 1, t0 - dt.timedelta(hours=2), 1),  # late
        ("y/000001", "b", 1, t0, 1),
    ]
    msgs = spark.createDataFrame(
        rows, "doc_id string, source string, msg_no int, ts timestamp, n_lines int"
    )
    got = {
        r["source"]: (r["messages"], r["late_rows"])
        for r in late_rows_metric(msgs, watermark="1 hour").collect()
    }
    assert got == {None: (2, 1), "b": (1, 0)}


def test_late_metric_two_phase_matches_single_window(spark):
    """The two-phase prefix-max (range partition + broadcast per-partition
    prefixes) must equal the textbook single-window running max, at any
    partition layout — the same cross-check _with_stream_start carries."""
    import datetime as dt

    from pyspark.sql.window import Window

    from super_speedy_syslog_searcher_spark.streaming.pipeline import late_rows_metric

    t0 = dt.datetime(2023, 6, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    rows = []
    for s, n_docs in (("a", 40), ("b", 25), ("c", 1)):
        for i in range(n_docs):
            # sawtooth: every 7th doc jumps 3h back (late), others advance
            ts = t0 + dt.timedelta(minutes=10 * i) - dt.timedelta(hours=3 if i % 7 == 6 else 0)
            rows.append((f"{s}/{i:06d}", s, 1, ts, 1))
    msgs = spark.createDataFrame(
        rows, "doc_id string, source string, msg_no int, ts timestamp, n_lines int"
    )

    # textbook single-window reference
    arrival = F.element_at(F.split("doc_id", "/"), -1).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy(arrival.asc_nulls_first(), "doc_id", "msg_no")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    secs = 3600
    ref = {
        r["source"]: r["late_rows"]
        for r in msgs.withColumn(
            "_late",
            (F.unix_timestamp(F.max("ts").over(w)) - F.unix_timestamp("ts") > secs).cast("int"),
        )
        .groupBy("source")
        .agg(F.sum("_late").alias("late_rows"))
        .collect()
    }

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("3", "16"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            got = {
                r["source"]: r["late_rows"]
                for r in late_rows_metric(msgs.repartition(5), watermark="1 hour").collect()
            }
            assert got == ref, parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_stateful_sessionize_matches_batch(spark, corpus, tmp_path):
    """applyInPandasWithState sessionizer over a two-batch line stream must
    emit exactly the batch sessionizer's messages (a year-2099 sentinel dt
    line closes each doc's final message)."""
    from super_speedy_syslog_searcher_spark.functions.codec import explode_lines
    from super_speedy_syslog_searcher_spark.functions.parse import parse_lines
    from super_speedy_syslog_searcher_spark.operators.sessionize import sessionize
    from super_speedy_syslog_searcher_spark.streaming.stateful import sessionize_stateful

    docs_pdf, _, _ = corpus
    docs = spark.createDataFrame(
        docs_pdf.head(20), schema="doc_id string, tokens array<int>, n_tok int, source string"
    )
    parsed = parse_lines(explode_lines(docs), reference_year=2023, lock_patterns=False)
    # sentinel line closes every doc's last open message
    sentinel = (
        docs.select("doc_id", "source")
        .distinct()
        .select(
            "doc_id", "source",
            F.lit(10_000_000).alias("line_no"),
            F.array().cast("array<int>").alias("line_tokens"),
            F.lit("2099-01-01 00:00:00 sentinel close").alias("text"),
            F.lit("2099-01-01 00:00:00").cast("timestamp").alias("ts"),
            F.lit(0).alias("ts_ns"), F.lit(0).alias("dt_beg"),
            F.lit(19).alias("dt_end"), F.lit(7).alias("pattern_id"),
        )
    )
    lines = parsed.select(sentinel.columns).unionByName(sentinel)

    # two-batch replay: split lines by doc hash into two parquet files
    in_dir = str(tmp_path / "lines_stream")
    lines.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(in_dir)
    lines.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    want = {
        (r["doc_id"], r["msg_no"], r["ts"], r["text"])
        for r in sessionize(parsed).collect()
    }

    stream = (
        spark.readStream.schema(lines.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    out = sessionize_stateful(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_msgs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(
        q,
        lambda: spark.sql("select * from stateful_msgs where year(ts) < 2099").count()
        >= len(want),
    )

    got = {
        (r["doc_id"], r["msg_no"], r["ts"], r["text"])
        for r in spark.sql(
            "select * from stateful_msgs where year(ts) < 2099"
        ).collect()
    }
    assert got == want


def test_stateful_packing_carries_offset_across_batches(spark, tmp_path):
    """Streaming packing with a checkpoint restart between two batches
    must produce exactly the batch chunk map: the per-source offset
    carried in GroupState places batch-2 docs at the stream position the
    batch operator gives them (including a sequence spanning the batch
    boundary)."""
    from super_speedy_syslog_searcher_spark.operators.tokens import pack_sequences
    from super_speedy_syslog_searcher_spark.streaming.stateful import pack_sequences_stateful

    MAX_LEN = 256
    batch1 = [("d0", "s", list(range(1, 301))), ("d1", "s", list(range(301, 601)))]
    batch2 = [("d2", "s", list(range(601, 1001))), ("d3", "t", [7] * 10)]
    schema = "doc_id string, source string, tokens array<int>"
    in_dir, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "chunks")

    def run_once(rows, mode):
        # parquet sink: supports restart-from-checkpoint (memory doesn't)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(in_dir)
        stream = spark.readStream.schema(
            spark.read.parquet(in_dir).schema
        ).parquet(in_dir)
        q = (
            pack_sequences_stateful(stream, max_len=MAX_LEN)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once(batch1, "overwrite")
    run_once(batch2, "append")
    got = {tuple(r) for r in spark.read.parquet(out_dir).collect()}

    full = spark.createDataFrame(
        [(d, s, t, len(t)) for d, s, t in batch1 + batch2],
        "doc_id string, source string, tokens array<int>, n_tok int",
    )
    want = {
        tuple(r)
        for r in pack_sequences(full, max_len=MAX_LEN)
        .select("source", "seq_id", "doc_id", "tok_off", "seq_off", "chunk_len", "chunk_sum")
        .collect()
    }
    assert got == want
    # the boundary doc d2 (tokens 600..999 at stream offset 600) must span
    # sequences 2 and 3 of source s — proof the carry crossed the restart
    d2_seqs = sorted(r[1] for r in got if r[2] == "d2")
    assert d2_seqs == [2, 3]


def test_pack_stateful_out_of_order_doc_raises(spark, tmp_path):
    """ADVICE r3: a late doc whose doc_id regresses below the last packed
    one must fail loudly (re-pack upstream), not pack silently at the
    current stream offset."""
    from super_speedy_syslog_searcher_spark.streaming.stateful import pack_sequences_stateful

    schema = "doc_id string, source string, tokens array<int>"
    in_dir, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "chunks")

    def run_once(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(in_dir)
        stream = spark.readStream.schema(spark.read.parquet(in_dir).schema).parquet(in_dir)
        q = (
            pack_sequences_stateful(stream, max_len=8)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return q

    run_once([("d5", "s", [1, 2, 3])], "overwrite")
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    with pytest.raises((PySparkException, Py4JJavaError)) as ei:
        run_once([("d2", "s", [4, 5])], "append")  # regresses below d5
    assert "doc_id order regressed" in str(ei.value) or "re-pack upstream" in str(ei.value)


def test_stateful_exact_dedup_across_batches(spark, tmp_path):
    """dedup_exact_stateful must keep the first occurrence of each text
    across micro-batches and a checkpoint restart: batch 1 emits the
    keepers, batch 2 (pure re-deliveries + one new text) emits only the
    new text — and the keeper set equals the batch operator's."""
    from super_speedy_syslog_searcher_spark.operators.dedup import exact_dedup_groups
    from super_speedy_syslog_searcher_spark.streaming.stateful import dedup_exact_stateful

    in_dir = str(tmp_path / "docs_stream")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "keepers")

    batch1 = [(f"d{i:03d}", "srcA" if i % 2 == 0 else "srcB",
               f"unique text number {i // 2}") for i in range(20)]
    # every batch-1 text re-delivered with NEW doc ids + one genuinely new
    batch2 = [(f"e{i:03d}", "srcC", f"unique text number {i}") for i in range(10)]
    batch2.append(("f000", "srcC", "a brand new text"))

    schema = "doc_id string, source string, text string"

    def run_once(rows, mode):
        # parquet sink: supports restart-from-checkpoint (memory doesn't)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(in_dir)
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            dedup_exact_stateful(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once(batch1, "overwrite")
    rows1 = spark.read.parquet(out_dir).collect()
    got1 = {(r["doc_id"], r["fp"]) for r in rows1}
    # batch1 has each text twice (i//2): keeper = min doc_id, 10 keepers
    assert len(got1) == 10
    assert all(d.startswith("d") for d, _ in got1)
    assert {r["n_dups_in_batch"] for r in rows1} == {1}  # each text arrived twice

    # restart from checkpoint with batch 2 appended: only the new text emits
    run_once(batch2, "append")
    got2 = {(r["doc_id"], r["fp"]) for r in spark.read.parquet(out_dir).collect()}
    new = got2 - got1
    assert len(new) == 1 and next(iter(new))[0] == "f000"

    # keeper set == the batch operator over batch-1 data (arrival order
    # == doc_id order here, so first-arrival == min(doc_id))
    batch_keepers = {
        (r["keeper"], r["fp"])
        for r in exact_dedup_groups(spark.createDataFrame(batch1, schema)).collect()
    }
    assert got1 == batch_keepers


def test_stateful_exact_dedup_ttl_eviction(spark, tmp_path):
    """ttl_ms > 0 bounds state: a fingerprint idle past the TTL is
    evicted (swept on the next trigger that has no data for it), so a
    later re-delivery is treated as new — the documented
    recall-for-memory trade."""
    import time as _time

    from super_speedy_syslog_searcher_spark.streaming.stateful import dedup_exact_stateful

    in_dir = str(tmp_path / "docs_stream")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "keepers")
    schema = "doc_id string, source string, text string"

    def run_once(rows, mode, expect_ids):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(in_dir)
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            dedup_exact_stateful(stream, ttl_ms=1)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(
            q,
            lambda: set(expect_ids)
            <= {r["doc_id"] for r in spark.read.parquet(out_dir).collect()},
        )

    run_once([("a1", "s", "text alpha")], "overwrite", ["a1"])
    _time.sleep(1.5)  # let the 1 ms TTL lapse in wall time
    # a trigger WITHOUT data for the key sweeps its timed-out state
    run_once([("b1", "s", "text beta")], "append", ["a1", "b1"])
    # the evicted fingerprint re-delivers → emitted again as new
    run_once([("a2", "s", "text alpha")], "append", ["a1", "b1", "a2"])

    rows = spark.read.parquet(out_dir).collect()
    emitted = sorted(r["doc_id"] for r in rows)
    assert emitted == ["a1", "a2", "b1"]


def test_stateful_lsh_pairs_closure_matches_batch(spark, tmp_path):
    """lsh_pairs_stateful across two micro-batches must produce edges
    whose transitive closure equals the batch all-pairs LSH closure over
    the full corpus — including clusters that only connect ACROSS the
    batch boundary — and a checkpoint restart must not re-emit batch-1
    edges."""
    from super_speedy_syslog_searcher_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
    )
    from super_speedy_syslog_searcher_spark.streaming.stateful import lsh_pairs_stateful

    in_dir = str(tmp_path / "docs_stream")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "edges")

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    variant = base.replace("lazy", "sleepy")
    other = "completely different content about spark structured streaming state stores here"
    # cluster 1 straddles the batch boundary: 101/102 in batch 1, 103 in
    # batch 2 (ids numeric-string: connected_components' convergence
    # check sums labels)
    batch1 = [("101", "s", base), ("102", "s", base + " again"),
              ("201", "s", other), ("301", "s", "short words only few")]
    batch2 = [("103", "s", variant), ("202", "s", other + " indeed"),
              ("302", "s", "another singleton text entirely unrelated to anything")]
    schema = "doc_id string, source string, text string"

    def run_once(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(in_dir)
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            lsh_pairs_stateful(stream, k=64, bands=16)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once(batch1, "overwrite")
    n_after_b1 = spark.read.parquet(out_dir).count()
    run_once(batch2, "append")
    stream_edges = (
        spark.read.parquet(out_dir).select("a", "b").distinct()
    )
    # restart emitted only NEW edges (batch-2 members against stored hubs)
    assert stream_edges.count() > 0
    assert spark.read.parquet(out_dir).count() > n_after_b1

    full = spark.createDataFrame(batch1 + batch2, schema)
    batch_edges = lsh_candidate_pairs(full, k=64, bands=16)

    def clusters(edges):
        rows = connected_components(edges).collect()
        clus = {}
        for r in rows:
            clus.setdefault(r["cluster_id"], set()).add(r["node"])
        return {frozenset(v) for v in clus.values()}

    got, want = clusters(stream_edges), clusters(batch_edges)
    # same near-dup clusters, including the cross-batch one
    assert got == want
    assert any({"101", "102", "103"} <= c for c in want)


def test_stateful_rate_anomalies_online(spark, tmp_path):
    """rate_anomalies_stateful: buckets close across micro-batches and a
    checkpoint restart, each scored against PRIOR closed buckets only —
    pinned to a sequential online reference; a bucket-order regression
    raises."""
    from datetime import datetime, timezone

    from super_speedy_syslog_searcher_spark.streaming.stateful import (
        rate_anomalies_stateful,
    )

    def ev(h, m, src="A"):
        return (src, datetime(2024, 1, 1, h, m, tzinfo=timezone.utc))

    # hours 0-3 vary (3,5,4,4 — nonzero prior variance) → hour 4 bursts
    # with 20; hour 5 closes hour 4
    counts = {0: 3, 1: 5, 2: 4}
    batch1 = [ev(h, m) for h, c in counts.items() for m in range(c)]
    batch2 = [ev(3, m) for m in range(4)] + [ev(4, m) for m in range(20)] + [ev(5, 0)]

    def online_ref(rows):
        rows = sorted(rows, key=lambda r: r[1])
        s1 = s2 = c = 0
        cur = n = None
        out = []
        for _, ts in rows:
            b = int(ts.timestamp() * 1000) // 3_600_000
            if cur is None:
                cur, n = b, 1
            elif b == cur:
                n += 1
            else:
                mean = s1 / c if c else None
                z = None
                if c:
                    sd = max(s2 / c - mean * mean, 0.0) ** 0.5
                    if sd > 0:
                        z = round((n - mean) / sd, 4)
                out.append((cur, n, z, bool(z is not None and abs(z) > 2.0)))
                s1, s2, c = s1 + n, s2 + n * n, c + 1
                cur, n = b, 1
        return out

    in_dir, ckpt, out_dir = (str(tmp_path / d) for d in ("in", "ckpt", "out"))
    schema = "source string, ts timestamp"

    def run_once(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(in_dir)
        q = (
            rate_anomalies_stateful(spark.readStream.schema(schema).parquet(in_dir))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once(batch1, "overwrite")
    run_once(batch2, "append")
    got = sorted(
        (
            int(r["bucket_ts"].replace(tzinfo=timezone.utc).timestamp() * 1000) // 3_600_000,
            r["n"],
            r["z"],
            r["is_burst"],
        )
        for r in spark.read.parquet(out_dir).collect()
    )
    want = sorted(online_ref(batch1 + batch2))
    assert got == want
    # the seeded burst hour is flagged, exactly once
    assert sum(1 for g in got if g[3]) == 1 and [g for g in got if g[3]][0][1] == 20

    # bucket-order regression raises (hour 1 after hour 5 closed hour 4)
    import pyspark.errors

    try:
        run_once([ev(1, 0)], "append")
        raised = False
    except (Exception,):
        raised = True
    assert raised


def test_await_or_raise_on_undrained_stream(spark, tmp_path):
    """VERDICT r4 #3 done-criterion: a stream that cannot drain within
    the timeout must RAISE (and stop), never fall through to reading a
    partially committed sink."""
    import time as _time

    import pytest as _pytest

    from super_speedy_syslog_searcher_spark.streaming.pipeline import await_or_raise

    src = str(tmp_path / "src")
    spark.range(0, 8).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    def _slow(batch_df, batch_id):
        _time.sleep(5)

    q = (
        stream.writeStream.foreachBatch(_slow)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        with _pytest.raises(TimeoutError, match="did not drain"):
            await_or_raise(q, 0.5)
        assert not q.isActive  # raised AND stopped
    finally:
        if q.isActive:
            q.stop()


def test_windowed_hdr_quantiles_stream_matches_batch(spark, corpus, stream_dirs):
    """The watermarked HDR histogram run as a REAL stream (availableNow,
    update mode via foreachBatch merge) sums to the batch histogram on
    the same corpus cell-for-cell, and the extracted per-(window, source)
    quantiles agree exactly — the mergeable-sketch property carried
    across micro-batches and the streaming state store."""
    from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused
    from super_speedy_syslog_searcher_spark.operators.sketch import (
        hdr_quantiles_from_hist,
    )
    from super_speedy_syslog_searcher_spark.streaming.pipeline import (
        read_docs_stream,
        windowed_hdr_histogram,
    )

    _write_docs(spark, corpus, stream_dirs["input"])
    # the kernel locks the P9 pattern per doc, so both faces parse every
    # doc alike however the stream splits it into micro-batches

    def _with_size(msgs):
        return msgs.withColumn("msg_chars", F.length("text").cast("long"))

    # streaming side: fused parse -> watermarked sketch agg; update-mode
    # foreachBatch merges each micro-batch's changed cells into a dict
    # (additive merge — exactly what a downstream store would do)
    cells: dict = {}

    def _merge(bdf, bid):
        for r in bdf.collect():
            key = (r["window_start"], r["source"], r["rep"])
            cells[key] = r["cnt"]  # update mode re-emits the new total

    stream_msgs = _with_size(
        parse_messages_fused(
            read_docs_stream(spark, stream_dirs["input"]), reference_year=2023
        )
    )
    q = (
        windowed_hdr_histogram(stream_msgs, window="1 hour", value_col="msg_chars")
        .writeStream.outputMode("update")
        .foreachBatch(_merge)
        .option("checkpointLocation", stream_dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    # batch side: identical plan in batch mode
    batch_msgs = _with_size(
        parse_messages_fused(
            spark.read.parquet(stream_dirs["input"]), reference_year=2023
        )
    )
    bhist = windowed_hdr_histogram(batch_msgs, window="1 hour", value_col="msg_chars")
    want = {
        (r["window_start"], r["source"], r["rep"]): r["cnt"] for r in bhist.collect()
    }
    assert cells == want and len(want) > 10

    # quantile extraction over the emitted bounded cells agrees too
    sdf = spark.createDataFrame(
        [(k[0], k[1], k[2], v) for k, v in cells.items()],
        "window_start timestamp, source string, rep long, cnt long",
    )
    got_q = {
        (r["window_start"], r["source"]): (r["hdr_p50"], r["hdr_p99"])
        for r in hdr_quantiles_from_hist(sdf, ("window_start", "source"), (50, 99)).collect()
    }
    want_q = {
        (r["window_start"], r["source"]): (r["hdr_p50"], r["hdr_p99"])
        for r in hdr_quantiles_from_hist(bhist, ("window_start", "source"), (50, 99)).collect()
    }
    assert got_q == want_q


def test_stateful_funnel_matches_batch_across_restart(spark, tmp_path):
    """funnel_stateful: the greedy step walk carries (pivot, guard)
    state across micro-batches and a checkpoint restart; the
    furthest-step-per-user changelog must agree with the batch
    operator's per-step counts over the union of both batches, and a
    step spanning the batch boundary must only fire once."""
    import datetime as dt

    from super_speedy_syslog_searcher_spark.operators.funnel import funnel_conversion
    from super_speedy_syslog_searcher_spark.streaming.pipeline import await_or_raise
    from super_speedy_syslog_searcher_spark.streaming.stateful import funnel_stateful

    steps = ["view", "click", "purchase"]
    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, sec, uid, ty):
        return (eid, t0 + dt.timedelta(seconds=sec), uid, ty)

    # u1 views+clicks in batch 1, purchases in batch 2 (state carries)
    # u2's click precedes its view (never converts past view)
    # u3 is all in batch 2
    batch1 = [ev(1, 10, 1, "view"), ev(2, 20, 1, "click"),
              ev(3, 5, 2, "click"), ev(4, 30, 2, "view")]
    batch2 = [ev(5, 40, 1, "purchase"),
              ev(6, 50, 2, "error"),
              ev(7, 60, 3, "view"), ev(8, 70, 3, "click"), ev(9, 80, 3, "purchase")]

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    in_dir, ckpt, out_dir = (str(tmp_path / d) for d in ("in", "ckpt", "out"))

    def run_once(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(in_dir)
        q = (
            funnel_stateful(spark.readStream.schema(schema).parquet(in_dir), steps)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 300)

    run_once(batch1, "overwrite")
    got1 = {(r["user_id"], r["idx"]) for r in spark.read.parquet(out_dir).collect()}
    assert got1 == {(1, 1), (1, 2), (2, 1)}

    run_once(batch2, "append")
    rows = spark.read.parquet(out_dir).collect()
    got = {(r["user_id"], r["idx"]) for r in rows}
    # u1's purchase advanced WITHOUT re-emitting earlier steps; u3 walked
    # all three inside one batch; u2 never advanced past view
    assert got == {(1, 1), (1, 2), (1, 3), (2, 1), (3, 1), (3, 2), (3, 3)}
    assert len(rows) == len(got)  # each advance fired exactly once

    # furthest-step counts == batch funnel over the union
    batch_counts = {
        r["idx"]: r["users"]
        for r in funnel_conversion(
            spark.createDataFrame(batch1 + batch2, schema), steps
        ).collect()
    }
    furthest: dict = {}
    for u, j in got:
        furthest[u] = max(furthest.get(u, 0), j)
    stream_counts = {i: sum(1 for v in furthest.values() if v >= i) for i in (1, 2, 3)}
    assert stream_counts == batch_counts


def test_stateful_funnel_out_of_order_raises(spark, tmp_path):
    """A second batch delivering an event OLDER than the entity's last
    seen (ts, event_id) must raise (loud beats silently undercounting)."""
    import datetime as dt

    import pytest

    from super_speedy_syslog_searcher_spark.streaming.pipeline import await_or_raise
    from super_speedy_syslog_searcher_spark.streaming.stateful import funnel_stateful

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    in_dir, ckpt, out_dir = (str(tmp_path / d) for d in ("in", "ckpt", "out"))

    def run_once(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(in_dir)
        q = (
            funnel_stateful(
                spark.readStream.schema(schema).parquet(in_dir), ["view", "click"]
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 300)

    run_once([(1, t0 + dt.timedelta(seconds=100), 1, "view")], "overwrite")
    with pytest.raises(Exception, match="order regressed"):
        run_once([(2, t0 + dt.timedelta(seconds=50), 1, "click")], "append")


def test_stateful_mg_heavy_hitters_across_batches(spark, tmp_path):
    """Streaming Misra-Gries: state = the bounded counter table; after
    micro-batched delivery AND a checkpoint restart with new data, the
    latest snapshot per source satisfies the MG guarantees for
    everything delivered so far (est<=true, true-est<=n/k, every >n/k
    key present)."""
    from collections import Counter

    from super_speedy_syslog_searcher_spark.streaming.pipeline import await_or_raise
    from super_speedy_syslog_searcher_spark.streaming.stateful import (
        mg_heavy_hitters_stateful,
    )

    in_dir = str(tmp_path / "mg_stream")
    ckpt = str(tmp_path / "mg_ckpt")
    out_dir = str(tmp_path / "mg_out")
    schema = "source string, key string"
    k = 8

    import random

    rng = random.Random(7)
    batch1 = [("s0", f"k{min(int(rng.paretovariate(1.3)), 40)}") for _ in range(1500)]
    batch1 += [("s0", "whale")] * 300
    batch2 = [("s0", f"k{min(int(rng.paretovariate(1.3)), 40)}") for _ in range(800)]
    batch2 += [("s0", "whale")] * 150

    def run_once(rows, mode):
        spark.createDataFrame(rows, schema).repartition(3).write.mode(mode).parquet(in_dir)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = (
            mg_heavy_hitters_stateful(stream, key_col="key", k=k)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 300)

    def check(rows_delivered):
        snaps = spark.read.parquet(out_dir).collect()
        n_max = max(r["n"] for r in snaps)
        assert n_max == len(rows_delivered)  # totals track the prefix
        final = {r["key"]: r["est"] for r in snaps if r["n"] == n_max}
        assert 0 < len(final) <= k
        true = Counter(key for _, key in rows_delivered)
        for key, est in final.items():
            assert 0 < est <= true[key]
            assert true[key] - est <= n_max / k
        for key, t in true.items():
            if t > n_max / k:
                assert key in final, (key, t)
        assert "whale" in final

    run_once(batch1, "overwrite")
    check(batch1)
    run_once(batch2, "append")
    check(batch1 + batch2)
