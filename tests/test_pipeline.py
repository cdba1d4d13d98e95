"""End-to-end pipeline correctness against generation-time golden values
(the analogue of the reference's compare-current-and-expected golden runs,
/root/reference/tools/compare-current-and-expected/compare.sh)."""

from __future__ import annotations

import os
import threading
from collections import Counter
from datetime import datetime, timezone

import pandas as pd
import pytest
from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark.functions.codec import decode_tokens_array, explode_lines
from super_speedy_syslog_searcher_spark.plans.pipeline import PipelineConfig, run_pipeline
from super_speedy_syslog_searcher_spark.sources.tokenized import REFERENCE_YEAR, gen_corpus

DOCS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"
ENRICH_SCHEMA = "source string, facility string, severity string, sink_key string"


@pytest.fixture(scope="module")
def pipeline_result(spark, corpus):
    docs_pd, enrich_pd, golden = corpus
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SCHEMA)
    lookup = spark.createDataFrame(enrich_pd, schema=ENRICH_SCHEMA)
    cfg = PipelineConfig(reference_year=REFERENCE_YEAR)
    res = run_pipeline(docs, lookup, cfg)
    return res, golden, enrich_pd


def test_message_timestamps_match_golden(pipeline_result):
    res, golden, _ = pipeline_result
    got = res["messages"].select("doc_id", "msg_no", "ts", "text", "n_lines").toPandas()
    exp = golden[["doc_id", "msg_no", "ts_expect", "text", "n_lines"]].copy()
    merged = got.merge(exp, on=["doc_id", "msg_no"], how="outer", indicator=True)
    assert (merged["_merge"] == "both").all(), merged[merged["_merge"] != "both"].head(10)
    ts_got = merged["ts"].dt.tz_localize("UTC")  # spark returns UTC-naive (session tz UTC)
    ts_exp = pd.to_datetime(merged["ts_expect"], utc=True)
    bad = merged[ts_got != ts_exp]
    assert len(bad) == 0, bad[["doc_id", "msg_no", "ts", "ts_expect", "text_y"]].head(10)
    assert (merged["text_x"] == merged["text_y"]).all()
    assert (merged["n_lines_x"] == merged["n_lines_y"]).all()


def test_token_array_invariant(pipeline_result, corpus):
    """Routed rows carry the ORIGINAL token slice: re-decoding a message's
    tokens must reproduce its text, and the concatenation of a doc's
    message tokens must be a subsequence of the doc's tokens."""
    res, _, _ = pipeline_result
    sample = res["messages"].limit(200).toPandas()
    for _, row in sample.iterrows():
        assert decode_tokens_array(row["tokens"]) == row["text"]

    docs_pd = corpus[0].set_index("doc_id")
    for doc_id, grp in sample.groupby("doc_id"):
        doc_tokens = docs_pd.loc[doc_id, "tokens"]
        hay = ",".join(map(str, doc_tokens))
        for toks in grp["tokens"]:
            needle = ",".join(map(str, toks))
            assert needle in hay, f"message tokens not a slice of doc tokens for {doc_id}"


def test_global_sort_order(pipeline_result):
    from super_speedy_syslog_searcher_spark.operators.merge import SORT_KEYS

    res, _, _ = pipeline_result
    rows = res["merged"].select(*SORT_KEYS).collect()
    keys = [tuple(r[k] for k in SORT_KEYS) for r in rows]
    assert all(r["source"] is not None for r in rows)
    assert keys == sorted(keys), "collected order is not the global sort order"
    assert len(keys) > 0


def test_sink_counts_match_enrichment(pipeline_result):
    res, golden, enrich_pd = pipeline_result
    counts = {r["sink_key"]: r["messages"] for r in res["sink_counts"].collect()}
    exp = golden.merge(enrich_pd[["source", "sink_key"]], on="source", how="left")
    exp_counts = exp.groupby("sink_key").size().to_dict()
    assert counts == exp_counts


def test_dt_filter_window(pipeline_result, spark, corpus):
    res, golden, _ = pipeline_result
    ts_sorted = golden["ts_expect"].sort_values()
    a = ts_sorted.iloc[len(ts_sorted) // 4].to_pydatetime()
    b = ts_sorted.iloc[3 * len(ts_sorted) // 4].to_pydatetime()
    from super_speedy_syslog_searcher_spark.operators.filters import dt_between

    n = dt_between(res["messages"], a, b).count()
    exp_n = ((golden["ts_expect"] >= a) & (golden["ts_expect"] <= b)).sum()
    assert n == exp_n


def test_summary_counters(pipeline_result, corpus):
    res, golden, _ = pipeline_result
    summary = res["summary"].toPandas()
    total = summary[summary["source"].isna()]
    assert len(total) == 1
    assert int(total["syslines"].iloc[0]) == len(golden)
    per_source = summary[summary["source"].notna()]
    exp_by_source = golden.groupby("source").size()
    for src, n in exp_by_source.items():
        assert int(per_source.set_index("source").loc[src, "syslines"]) == n


def test_pattern_hit_miss(pipeline_result):
    res, _, _ = pipeline_result
    pc = res["pattern_counts"].toPandas()
    assert (pc[pc["kind"] == "hit"]["pattern_id"] >= 0).all()
    # nodt sources must show misses only
    nodt = pc[pc["source"].str.startswith("nodt.")]
    assert len(nodt) > 0 and (nodt["kind"] == "miss").all()


def test_explode_lines_roundtrip(spark, corpus):
    docs_pd, _, _ = corpus
    docs = spark.createDataFrame(docs_pd.head(5), schema=DOCS_SCHEMA)
    lines = explode_lines(docs).toPandas().sort_values(["doc_id", "line_no"])
    for doc_id, grp in lines.groupby("doc_id"):
        orig = decode_tokens_array(docs_pd[docs_pd["doc_id"] == doc_id]["tokens"].iloc[0])
        assert "\n".join(grp["text"]) == orig


def test_sessionize_edge_shapes(spark):
    """Sysline-assembly edges mirrored from the reference's sequential
    scan semantics (syslinereader.rs:1976-2192): consecutive datetime
    lines each close the previous message; trailing continuations attach
    to the last message; a doc of only continuations yields nothing."""
    from super_speedy_syslog_searcher_spark.functions.codec import encode_text_udf
    from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs_text = {
        "consec": "2024-01-05T10:00:00Z a\n2024-01-05T10:00:01Z b\n2024-01-05T10:00:02Z c",
        "trailing": "2024-01-05T10:00:00Z head\n  at alpha\n  at beta",
        "contonly": "  no datetime here\n  nor here",
        "interleaved": "lead junk\n2024-01-05T10:00:00Z x\n  cont\n2024-01-05T10:00:05Z y",
    }
    df = spark.createDataFrame(
        [(k, "srcE", v) for k, v in docs_text.items()], "doc_id string, source string, text string"
    ).withColumn("tokens", encode_text_udf("text")).select(
        "doc_id", "tokens", F.size("tokens").alias("n_tok"), "source"
    )
    msgs = parse_messages_fused(df, reference_year=2024)
    got = {}
    for r in msgs.collect():
        got.setdefault(r["doc_id"], []).append(r)
    assert len(got.get("consec", [])) == 3
    assert [m["n_lines"] for m in sorted(got["consec"], key=lambda r: r["msg_no"])] == [1, 1, 1]
    tr = got["trailing"]
    assert len(tr) == 1 and tr[0]["n_lines"] == 3 and tr[0]["text"].endswith("at beta")
    assert "contonly" not in got  # no sysline — lands in the rejects channel
    il = sorted(got["interleaved"], key=lambda r: r["msg_no"])
    assert [m["n_lines"] for m in il] == [2, 1]
    assert il[0]["text"].startswith("2024-01-05T10:00:00Z x")


def test_line_grained_sessionize_matches_golden(spark, corpus):
    """The line-grained lane (explode → parse_lines → sessionize) assembles
    the messages the corpus golden lists: same keys, texts and line
    counts. It applies no year fix, so timestamps are not compared."""
    from super_speedy_syslog_searcher_spark.functions.parse import parse_lines
    from super_speedy_syslog_searcher_spark.operators.sessionize import sessionize

    docs_pd, _, golden = corpus
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SCHEMA)
    msgs = sessionize(parse_lines(explode_lines(docs), reference_year=REFERENCE_YEAR))
    cols = ["doc_id", "msg_no", "text", "n_lines"]
    got = {tuple(r) for r in msgs.select(cols).collect()}
    want = {tuple(r) for r in golden[cols].itertuples(index=False)}
    assert got == want


def test_doc_grained_counters_equal_line_grained(spark, corpus):
    """run_pipeline's summary and pattern counts, made from the docs table
    and the kernel's messages, are row- and schema-identical to the
    line-grained counters over the parsed lines of the same docs — with
    nodt sources, leading continuation lines, an -a/-b window, and a doc
    without tokens, which adds no row."""
    from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused
    from super_speedy_syslog_searcher_spark.operators.filters import dt_between
    from super_speedy_syslog_searcher_spark.operators.summary import (
        doc_pattern_hit_miss,
        doc_source_summary,
        pattern_hit_miss,
        source_summary,
    )
    from super_speedy_syslog_searcher_spark.plans.pipeline import parse_stage

    docs_pd, _, golden = corpus
    empty = pd.DataFrame([{"doc_id": "empty.000/000000", "tokens": [], "n_tok": 0, "source": "empty.000"}])
    docs = spark.createDataFrame(pd.concat([docs_pd, empty], ignore_index=True), schema=DOCS_SCHEMA)
    lines = parse_stage(docs, PipelineConfig(reference_year=REFERENCE_YEAR)).persist()
    parsed = parse_messages_fused(docs, reference_year=REFERENCE_YEAR).persist()
    ts = golden["ts_expect"].sort_values()
    messages = dt_between(parsed, ts.iloc[len(ts) // 3].to_pydatetime(), ts.iloc[2 * len(ts) // 3].to_pydatetime())
    try:
        for got, want in (
            (doc_source_summary(docs, parsed, messages), source_summary(lines, messages)),
            (doc_pattern_hit_miss(docs, parsed), pattern_hit_miss(lines)),
        ):
            assert got.dtypes == want.dtypes
            got_rows, want_rows = [tuple(r) for r in got.collect()], [tuple(r) for r in want.collect()]
            assert len(got_rows) == len(want_rows) and set(got_rows) == set(want_rows)
            assert "empty.000" not in {r[0] for r in got_rows}
            assert any(r[0] is not None and r[0].startswith("nodt.") for r in got_rows)
    finally:
        lines.unpersist()
        parsed.unpersist()


def test_messages_plan_has_no_exchange(spark, corpus):
    """The windowed messages of run_pipeline come out of one narrow stage:
    no Exchange anywhere in the executed plan, kernel included."""
    docs_pd, enrich_pd, golden = corpus
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SCHEMA)
    lookup = spark.createDataFrame(enrich_pd, schema=ENRICH_SCHEMA)
    ts = golden["ts_expect"].sort_values()
    cfg = PipelineConfig(
        reference_year=REFERENCE_YEAR, dt_a=ts.iloc[len(ts) // 4].to_pydatetime(), dt_b=ts.iloc[-1].to_pydatetime()
    )
    res = run_pipeline(docs, lookup, cfg)
    try:
        assert res["messages"].count() > 0
        plan = res["messages"]._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan and "Exchange" not in plan, plan
    finally:
        res["parsed_lines"].unpersist()


def _text_docs(spark, rows):
    """(doc_id, source, text) rows → a docs DataFrame (one token per char)."""
    pdf = pd.DataFrame(
        [(d, [ord(c) for c in t], len(t), s) for d, s, t in rows], columns=["doc_id", "tokens", "n_tok", "source"]
    )
    return spark.createDataFrame(pdf, schema=DOCS_SCHEMA)


def test_doc_timestamps_depend_on_that_doc_alone(spark):
    """The P9 pattern is locked per doc: a doc that only the first table
    entry reads with its -11:00 offset keeps that instant and pattern
    next to 400 tz-less docs of the same source, which elect a later
    entry for themselves."""
    from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused

    target = ("oplock", "smbd", "(2000/01/01 00:00:02.1 -1100) ../source3/smbd/oplock.c:1340(init_oplocks)")
    companions = [
        (f"c{i:03d}", "smbd", f"(2000/01/01 00:{i // 60:02d}:{i % 60:02d}.1) ../source3/smbd/oplock.c:{i}(x)")
        for i in range(400)
    ]
    want = (datetime(2000, 1, 1, 11, 0, 2, 100000), 1)
    for rows in ([target], [target, *companions]):
        msgs = parse_messages_fused(_text_docs(spark, rows)).filter(F.col("doc_id") == "oplock")
        assert [(r["ts"], r["pattern_id"]) for r in msgs.collect()] == [want], len(rows)


def test_building_the_plan_starts_no_spark_job(spark, corpus):
    """parse_messages_fused, the merge and run_pipeline without out_dir
    only plan, with or without a source list: no P9 vote job, no
    source-order collect or any other Spark job starts until an action."""
    from super_speedy_syslog_searcher_spark.functions.parse import parse_messages_fused
    from super_speedy_syslog_searcher_spark.operators.merge import global_sort, with_source_order

    docs_pd, enrich_pd, _ = corpus
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SCHEMA)
    lookup = spark.createDataFrame(enrich_pd, schema=ENRICH_SCHEMA)
    listed = PipelineConfig(reference_year=REFERENCE_YEAR, sources_in_order=sorted(enrich_pd["source"]))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    msgs = parse_messages_fused(docs, reference_year=REFERENCE_YEAR)
    global_sort(with_source_order(msgs))
    results = [run_pipeline(docs, lookup, cfg) for cfg in (listed, PipelineConfig(reference_year=REFERENCE_YEAR))]
    try:
        assert set(tracker.getJobIdsForGroup(None)) - before == set()
    finally:
        for res in results:
            res["parsed_lines"].unpersist()


def _routed_run(spark, corpus, out):
    docs_pd, enrich_pd, _ = corpus
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SCHEMA)
    lookup = spark.createDataFrame(enrich_pd, schema=ENRICH_SCHEMA)
    return run_pipeline(docs, lookup, PipelineConfig(reference_year=REFERENCE_YEAR), out_dir=out)


def test_routed_sinks_commit_before_the_counter_tables(spark, corpus, tmp_path):
    """The routed commit (its last change is to the ``routed`` directory
    itself: the ``_SUCCESS`` marker written after the partition commit) is
    no newer than any counter table's commit."""
    out = str(tmp_path / "out")
    res = _routed_run(spark, corpus, out)
    try:
        routed = os.stat(os.path.join(out, "routed")).st_mtime_ns
        for name in ("sink_counts", "summary", "pattern_counts"):
            assert routed <= os.stat(os.path.join(out, name, "_SUCCESS")).st_mtime_ns, name
        assert sum(r["messages"] for r in spark.read.parquet(os.path.join(out, "sink_counts")).collect()) == (
            spark.read.parquet(os.path.join(out, "routed")).count()
        )
    finally:
        res["parsed_lines"].unpersist()


def test_routed_sinks_leave_a_commit_marker(spark, corpus, tmp_path):
    """The routed table gets a ``_SUCCESS`` like every counter table, and
    it is written after every sink partition is in place."""
    out = str(tmp_path / "out")
    res = _routed_run(spark, corpus, out)
    try:
        routed = os.path.join(out, "routed")
        marker = os.stat(os.path.join(routed, "_SUCCESS")).st_mtime_ns
        sinks = [d for d in os.listdir(routed) if d.startswith("sink_key=")]
        assert sinks
        for d in sinks:
            assert os.stat(os.path.join(routed, d)).st_mtime_ns <= marker, d
    finally:
        res["parsed_lines"].unpersist()


def test_failed_counter_write_lets_the_others_commit(spark, corpus, tmp_path, monkeypatch):
    """A counter table whose write fails is re-raised only after the other
    two have committed; no writer thread and no cached kernel output is
    left behind."""
    from super_speedy_syslog_searcher_spark.plans import pipeline

    real = pipeline.write_parquet_file

    def write_parquet_file(spark, table, path):
        if path.endswith(os.sep + "summary"):
            raise RuntimeError("summary sink unavailable")
        return real(spark, table, path)

    monkeypatch.setattr(pipeline, "write_parquet_file", write_parquet_file)
    out = str(tmp_path / "out")
    threads = threading.active_count()
    cached = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="summary sink unavailable"):
        _routed_run(spark, corpus, out)
    assert [d for d in os.listdir(os.path.join(out, "routed")) if d.startswith("sink_key=")]
    for name in ("sink_counts", "pattern_counts"):
        assert os.path.exists(os.path.join(out, name, "_SUCCESS")), name
    assert not os.path.exists(os.path.join(out, "summary"))
    assert threading.active_count() == threads
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == cached


def test_counter_tables_come_from_one_collect(spark, corpus, tmp_path, monkeypatch):
    """After the routed write, run_pipeline(out_dir=…) runs only the jobs of
    one collect, the counter pre-aggregate: no Spark job writes a counter
    table."""
    from super_speedy_syslog_searcher_spark.plans import pipeline

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"counters/{tmp_path.name}"
    routed_jobs = []
    real = pipeline.route_write

    def route_write(*args, **kwargs):
        real(*args, **kwargs)
        routed_jobs.extend(tracker.getJobIdsForGroup(group))

    monkeypatch.setattr(pipeline, "route_write", route_write)
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        res = _routed_run(spark, corpus, str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    res["parsed_lines"].unpersist()
    counter_jobs = set(tracker.getJobIdsForGroup(group)) - set(routed_jobs)
    assert routed_jobs and counter_jobs
    stages = {tracker.getStageInfo(s).name for j in counter_jobs for s in tracker.getJobInfo(j).stageIds}
    assert len(stages) == 1 and next(iter(stages)).startswith(f"collect at {pipeline.__file__}:"), stages


def _assert_counter_tables_equal_lazy(spark, docs, lookup, cfg, out) -> dict[str, list[tuple]]:
    """run_pipeline(out_dir=…)'s written and returned counter tables hold the
    rows (as multisets) and dtypes of the lazy DataFrame counters over the
    same run. Returns the written rows per table."""
    from super_speedy_syslog_searcher_spark.operators.route import sink_counts
    from super_speedy_syslog_searcher_spark.operators.summary import doc_pattern_hit_miss, doc_source_summary

    res = run_pipeline(docs, lookup, cfg, out_dir=out)
    try:
        lazy = {
            "sink_counts": sink_counts(res["enriched"]),
            "summary": doc_source_summary(docs, res["parsed_lines"], res["messages"]),
            "pattern_counts": doc_pattern_hit_miss(docs, res["parsed_lines"]),
        }
        written = {}
        for name, want in lazy.items():
            want_rows = Counter(tuple(r) for r in want.collect())
            back = spark.read.parquet(os.path.join(out, name))
            for got in (back, res[name]):
                assert got.dtypes == want.dtypes, name
                assert Counter(tuple(r) for r in got.collect()) == want_rows, name
            written[name] = [tuple(r) for r in back.collect()]
        return written
    finally:
        res["parsed_lines"].unpersist()


def test_written_counter_tables_equal_the_lazy_counters(spark, corpus, tmp_path, driver_tz):
    """With an -a/-b window, a NULL-source doc, a doc without tokens, a doc
    whose first lines carry no datetime and a source the enrichment table
    does not list, under a non-UTC driver zone with DST."""
    driver_tz("America/New_York")
    docs_pd, enrich_pd, golden = corpus
    extra = [
        ("nullsrc/0", None, "(2023/06/01 12:00:01.1) ../a.c:1(x)\n(2023/06/01 12:00:02.1) ../a.c:2(x)"),
        ("empty/0", "empty.000", ""),
        ("lead/0", "lead.000", "no datetime here\nnor here\n(2023/06/01 12:30:00.5) ../b.c:3(y)\ncontinued"),
        ("unlisted/0", "unlisted.000", "(2023/06/01 13:00:00.2) ../c.c:4(z)\n"),
    ]
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SCHEMA).unionByName(_text_docs(spark, extra))
    lookup = spark.createDataFrame(enrich_pd, schema=ENRICH_SCHEMA)
    ts = golden["ts_expect"].sort_values()
    cfg = PipelineConfig(
        reference_year=REFERENCE_YEAR,
        dt_a=ts.iloc[len(ts) // 3].to_pydatetime(),
        dt_b=ts.iloc[2 * len(ts) // 3].to_pydatetime(),
    )
    written = _assert_counter_tables_equal_lazy(spark, docs, lookup, cfg, str(tmp_path / "out"))
    summary = {r[0]: r for r in written["summary"] if r[0] is not None}
    assert sum(r[0] is None for r in written["summary"]) == 2  # the NULL-source group and the grand total
    # 4 lines, 1 with a datetime, the 2 ahead of it dropped
    assert summary["lead.000"][1:4] == (4, 1, 2) and "empty.000" not in summary
    assert "unknown.info" in {r[0] for r in written["sink_counts"]}


def test_counter_tables_of_an_empty_docs_table(spark, corpus, tmp_path):
    """No docs: every counter table is empty, the summary without a
    grand-total row, as ``rollup`` gives none."""
    lookup = spark.createDataFrame(corpus[1], schema=ENRICH_SCHEMA)
    docs = spark.createDataFrame([], DOCS_SCHEMA)
    written = _assert_counter_tables_equal_lazy(
        spark, docs, lookup, PipelineConfig(reference_year=REFERENCE_YEAR), str(tmp_path / "out")
    )
    assert written == {"sink_counts": [], "summary": [], "pattern_counts": []}
