"""Workload inputs, the timed ``run_pipeline`` call, the staged traced run
and the output checks.

Inputs are made from the seed before the timed region; ``run_pipeline``
receives only the generated docs table (a parquet read) and the enrichment
table. Every workload is a closed loop: one caller, and the next call
starts after the previous one returned and was checked.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark import entry_queries as EQ
from super_speedy_syslog_searcher_spark.functions.parse import NOYEAR_PATTERN_IDS
from super_speedy_syslog_searcher_spark.operators.enrich import enrich
from super_speedy_syslog_searcher_spark.operators.filters import dt_between
from super_speedy_syslog_searcher_spark.operators.merge import global_sort, with_source_order
from super_speedy_syslog_searcher_spark.operators.route import route_write, sink_counts
from super_speedy_syslog_searcher_spark.operators.sessionize import sessionize
from super_speedy_syslog_searcher_spark.operators.summary import pattern_hit_miss, source_summary
from super_speedy_syslog_searcher_spark.operators.yearfix import infer_years
from super_speedy_syslog_searcher_spark.plans.pipeline import PipelineConfig, parse_stage, run_pipeline
from super_speedy_syslog_searcher_spark.sources import tokenized

from check import check_route, check_search
from spans import metric_sum, plan_metrics, self_time

EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])
# search window: the middle half of the generated day
SEARCH_A = datetime(2023, 6, 1, 6, 0, 0, tzinfo=timezone.utc)
SEARCH_B = datetime(2023, 6, 1, 18, 0, 0, tzinfo=timezone.utc)


def gen_events(seed: int, n: int) -> pa.Table:
    """An ``events`` table shaped like the test-data one: increasing ``ts``
    over Jan 2024, ``user_id`` (its value mod 8 picks the line format) and an
    event type."""
    rng = np.random.default_rng(seed)
    offs = np.cumsum(rng.exponential(size=n))
    span_us = (30 * 86400 - 3600) * 10**6
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (offs / offs[-1] * span_us).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, max(n * 15 // 1000, 8), n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        }
    )


@dataclass
class Call:
    wall_s: float
    first_row_s: float
    result: dict
    rows: list = field(default_factory=list)


class Workload:
    """One input set. ``prepare`` writes the seed's inputs without Spark,
    ``materialize`` finishes them with Spark, ``inputs`` returns what
    ``run_pipeline`` receives."""

    name: str
    out_dir: str | None = None

    def __init__(self, work: str, seed: int, nproc: int):
        self.dir = os.path.join(work, f"{self.name}-seed{seed}")
        self.seed = seed
        self.nproc = nproc
        self.docs_path = os.path.join(self.dir, "docs")
        self.lines_in = 0

    def prepare(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def materialize(self, spark) -> None:
        pass

    def call(self, spark, docs, enrichment) -> Call:
        raise NotImplementedError

    def check(self, call: Call) -> tuple[list[str], object]:
        """(problems, digest); calls on the same input must give equal digests."""
        raise NotImplementedError


class RouteWorkload(Workload):
    """The events corpus rendered to single-line docs in 8 formats, routed
    to sinks under ``out_dir``."""

    n_events: int

    def __init__(self, work, seed, nproc):
        super().__init__(work, seed, nproc)
        self.out_dir = os.path.join(self.dir, "out")
        self.events_path = os.path.join(self.dir, "events.parquet")
        self.cfg = PipelineConfig(reference_year=EQ.REFERENCE_YEAR)

    def prepare(self):
        super().prepare()
        pq.write_table(gen_events(self.seed, self.n_events), self.events_path)
        self.lines_in = self.n_events

    def materialize(self, spark):
        # the package's own renderer, so the DuckDB oracle's per-family
        # expectations hold; 2 files per core so every core scans
        EQ.rendered_docs(spark, self.dir).repartition(2 * self.nproc).write.parquet(self.docs_path)

    def inputs(self, spark):
        return spark.read.parquet(self.docs_path), EQ.enrichment_df(spark)

    def call(self, spark, docs, enrichment) -> Call:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        t0_wall = time.time()
        t0 = time.perf_counter()
        result = run_pipeline(docs, enrichment, self.cfg, out_dir=self.out_dir)
        wall = time.perf_counter() - t0
        # routed rows become visible to readers when the sink commit
        # finishes, which is the last change to the routed directory
        first = os.stat(os.path.join(self.out_dir, "routed")).st_mtime - t0_wall
        return Call(wall, first, result)

    def check(self, call):
        return check_route(self.events_path, self.out_dir, self.lines_in)


class RouteSmall(RouteWorkload):
    name = "route_small"
    n_events = 10_000


class RouteBulk(RouteWorkload):
    name = "route_bulk"
    n_events = 15_000


class SearchWindow(Workload):
    """A seeded ``gen_corpus`` corpus (12 families, ~40 lines per doc, two
    hot sources), searched with an ``-a/-b`` window and drained in merge
    order; nothing is written."""

    name = "search_window"
    n_docs = 600

    def __init__(self, work, seed, nproc):
        super().__init__(work, seed, nproc)
        self.cfg = PipelineConfig(reference_year=tokenized.REFERENCE_YEAR, dt_a=SEARCH_A, dt_b=SEARCH_B)

    def prepare(self):
        super().prepare()
        docs, self.enrichment, golden = tokenized.gen_corpus(
            n_docs=self.n_docs, lines_per_doc=40, n_sources=24, seed=self.seed, skew=True
        )
        self.lines_in = int(sum(t.count(10) + 1 for t in docs["tokens"]))
        ts = golden["ts_expect"]
        inside = golden[(ts >= SEARCH_A) & (ts <= SEARCH_B)]
        inside = inside.sort_values(["ts_expect", "source", "doc_id", "msg_no"])
        self.golden = [
            (d, int(m), t.tz_convert(None).to_pydatetime(), x)
            for d, m, t, x in zip(inside["doc_id"], inside["msg_no"], inside["ts_expect"], inside["text"])
        ]
        table = pa.table(
            {
                "doc_id": pa.array(docs["doc_id"]),
                "tokens": pa.array(docs["tokens"], type=pa.list_(pa.int32())),
                "n_tok": pa.array(docs["n_tok"], type=pa.int32()),
                "source": pa.array(docs["source"]),
            }
        )
        os.makedirs(self.docs_path)
        n_files = 2 * self.nproc
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(table.slice(i * step, step), os.path.join(self.docs_path, f"part-{i:03d}.parquet"))

    def inputs(self, spark):
        return spark.read.parquet(self.docs_path), spark.createDataFrame(self.enrichment)

    def call(self, spark, docs, enrichment) -> Call:
        t0 = time.perf_counter()
        result = run_pipeline(docs, enrichment, self.cfg)
        rows, first = drain(result["merged"], t0)
        return Call(time.perf_counter() - t0, first, result, rows)

    def check(self, call):
        return check_search(self.golden, call.rows, call.result, self.lines_in), None


WORKLOADS = {w.name: w for w in (RouteSmall, RouteBulk, SearchWindow)}


def drain(merged, t0: float) -> tuple[list, float]:
    """Pull the merged stream to the driver in order, as s4 prints it."""
    rows, first = [], float("nan")
    for r in merged.toLocalIterator():
        if not rows:
            first = time.perf_counter() - t0
        rows.append((r["doc_id"], r["msg_no"], r["ts"], r["text"]))
    return rows, first


def traced_pipeline(spark, tracer, wl: Workload, docs, enrichment) -> tuple[dict, Call, list]:
    """``run_pipeline`` layer by layer: the same public functions in the same
    order, each forced by an action over its persisted output. Returns the
    per-layer metrics, the run's outputs for the check, and the persisted
    frames for the caller to release."""
    cfg = wl.cfg
    kept = []

    def keep(df):
        kept.append(df.persist())
        return df

    m: dict[str, float] = {}
    with tracer.span("run") as run:
        with tracer.span("scan") as sp:
            docs._jdf.queryExecution().toRdd().count()
        m["scan.s"] = sp.duration
        m["scan.bytes"] = metric_sum(plan_metrics(docs._jdf), "Scan", "filesSize")

        with tracer.span("parse") as parse:
            # parse_stage runs the P9 vote (vote_patterns_fused) eagerly and
            # only plans the parse, so its call is the vote
            with tracer.span("vote") as sp:
                parsed = keep(parse_stage(docs, cfg))
            n_lines, n_ts = parsed.agg(F.count("*"), F.count("ts")).first()
        m["vote.s"], m["vote.jobs"] = sp.duration, len(sp.jobs)
        nodes = plan_metrics(parsed._jdf)
        m["parse.python_total_s"] = metric_sum(nodes, "MapInPandas", "pythonTotalTime")
        m["parse.python_init_s"] = metric_sum(nodes, "MapInPandas", "pythonInitTime")
        m["parse.arrow_sent_bytes"] = metric_sum(nodes, "MapInPandas", "pythonDataSent")
        m["parse.arrow_recv_bytes"] = metric_sum(nodes, "MapInPandas", "pythonDataReceived")
        m["parse.lines_in"] = n_lines
        m["parse.hit_ratio"] = n_ts / n_lines

        with tracer.span("sessionize") as sp:
            msgs = keep(sessionize(parsed, num_partitions=cfg.num_partitions))
            n_msgs = msgs.count()
        m["sessionize.s"] = sp.duration
        m["sessionize.shuffle_bytes"] = metric_sum(plan_metrics(msgs._jdf), "Exchange", "shuffleBytesWritten")

        m["yearfix.s"] = m["yearfix.docs_affected"] = 0
        if cfg.reference_year is not None:
            m["yearfix.docs_affected"] = (
                msgs.filter(F.col("pattern_id").isin(NOYEAR_PATTERN_IDS)).select("doc_id").distinct().count()
            )
            with tracer.span("yearfix") as sp:
                msgs = keep(infer_years(msgs, cfg.reference_year, num_partitions=cfg.num_partitions))
                n_msgs = msgs.count()
            m["yearfix.s"] = sp.duration

        with tracer.span("filter"):
            messages = dt_between(msgs, cfg.dt_a, cfg.dt_b)
            if messages is not msgs:
                keep(messages)
            n_kept = messages.count()
        m["filter.selectivity"] = n_kept / n_msgs if n_msgs else 1.0

        with tracer.span("enrich") as sp:
            enriched = keep(enrich(messages, enrichment))
            enriched.count()
        nodes = plan_metrics(enriched._jdf)
        m["enrich.s"] = sp.duration
        m["enrich.broadcast_collect_s"] = metric_sum(nodes, "BroadcastExchange", "collectTime")
        m["enrich.broadcast_build_s"] = metric_sum(nodes, "BroadcastExchange", "buildTime")

        with tracer.span("merge") as sp:
            enriched = with_source_order(enriched, cfg.sources_in_order)
            merged = keep(global_sort(enriched, num_partitions=cfg.num_partitions, sources_in_order=cfg.sources_in_order))
            merged.count()
        m["merge.s"] = sp.duration
        m["merge.shuffle_bytes"] = metric_sum(plan_metrics(merged._jdf), "Exchange", "shuffleBytesWritten")
        per_part = sorted(r[1] for r in merged.groupBy(F.spark_partition_id()).count().collect())
        m["merge.partition_skew"] = per_part[-1] / float(np.median(per_part)) if per_part else 1.0

        result = {"parsed_lines": parsed, "messages": messages, "merged": merged}
        m["route.s"] = m["route.files"] = m["route.bytes"] = m["summary.s"] = m["summary.jobs"] = 0
        rows, first = [], float("nan")
        if wl.out_dir:
            shutil.rmtree(wl.out_dir, ignore_errors=True)
            routed = os.path.join(wl.out_dir, "routed")
            with tracer.span("route") as sp:
                route_write(merged.drop("source_order"), routed)
            files = [os.path.join(d, f) for d, _, fs in os.walk(routed) for f in fs if f.endswith(".parquet")]
            m["route.s"], m["route.files"] = sp.duration, len(files)
            m["route.bytes"] = sum(os.path.getsize(f) for f in files)
            with tracer.span("summary") as sp:
                sink_counts(enriched).write.mode("overwrite").parquet(os.path.join(wl.out_dir, "sink_counts"))
                source_summary(parsed, messages).write.mode("overwrite").parquet(os.path.join(wl.out_dir, "summary"))
                pattern_hit_miss(parsed).write.mode("overwrite").parquet(os.path.join(wl.out_dir, "pattern_counts"))
            m["summary.s"], m["summary.jobs"] = sp.duration, len(sp.jobs)
        else:
            # the search's output stage is the in-order drain s4 prints
            # from, so it stands in the route metrics; it writes no files
            with tracer.span("drain") as sp:
                rows, first = drain(merged, time.perf_counter())
            m["route.s"] = sp.duration
            result["sink_counts"] = sink_counts(enriched)
            result["pattern_counts"] = pattern_hit_miss(parsed)
            with tracer.span("summary") as sp:
                for df in (result["sink_counts"], source_summary(parsed, messages), result["pattern_counts"]):
                    df.collect()
            m["summary.s"], m["summary.jobs"] = sp.duration, len(sp.jobs)
    m["parse.self_s"] = self_time(parse, tracer.spans)
    return m, Call(run.duration, first, result, rows), kept
