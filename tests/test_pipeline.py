"""End-to-end pipeline correctness against generation-time golden values
(the analogue of the reference's compare-current-and-expected golden runs,
/root/reference/tools/compare-current-and-expected/compare.sh)."""

from __future__ import annotations

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
    res, _, _ = pipeline_result
    rows = res["merged"].select("ts", "ts_ns", "source_order", "doc_id", "msg_no").collect()
    keys = [(r["ts"], r["ts_ns"], r["source_order"], r["doc_id"], r["msg_no"]) for r in rows]
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
    msgs = parse_messages_fused(df, reference_year=2024, lock_patterns=False)
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
