"""End-to-end pipeline: parse → enrich → route → aggregate.

The Spark lifecycle equivalent of ``s4 <PATHS> -a A -b B`` (SURVEY §3.3):

    read docs table → ONE narrow Python stage per Arrow batch
    (``parse_messages_fused``: token split → DTPD parse with the P9
    pattern locked per doc → sessionize → 25-hour year fix, all
    doc-local; building the plan runs no Spark job)
    → filter ts BETWEEN a, b (pushable) → broadcast-join enrichment →
    source-order tie-break (no job) → repartitionByRange(full sort key) +
    sortWithinPartitions → fan-out
    write partitioned by sink_key → summary aggregates.

With ``out_dir`` the routed write runs first: it is the first Spark job
of the call, and the counter plans are built only after its commit, so
readers of the routed sinks wait for nothing else. The three counter
tables (``sink_counts``, ``summary``, ``pattern_counts``) are then
written together, one thread each.

There is no sessionize or year-fix shuffle: every doc is whole inside
one batch. The wide dependencies are the merge's range exchange and the
routed write; the enrichment join is broadcast, and the summary counters
are small aggregates over the docs table and the persisted kernel output.

Checkpoint/resume + lineage (north_rule): each run writes per-source
manifest rows after its sinks commit; a resume run anti-joins the input
against the manifest of completed sources, so already-routed work is never
recomputed. Lineage rows carry per-(source) message counts + ts bounds —
the per-partition metrics the north_star asks for.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from datetime import datetime

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codec import explode_lines
from ..functions.parse import parse_lines, parse_messages_fused
from ..operators.enrich import enrich
from ..operators.filters import dt_between
from ..operators.merge import global_sort, with_source_order
from ..operators.route import route_write, sink_counts
from ..operators.summary import doc_pattern_hit_miss, doc_source_summary
from ..session import local_df


@dataclass
class PipelineConfig:
    default_tz: str = "+00:00"
    reference_year: int | None = None  # seed year for no-year formats
    dt_a: datetime | None = None
    dt_b: datetime | None = None
    # merge range partitions: None targets spark.sql.shuffle.partitions and
    # lets AQE merge adjacent ranges on small inputs (fewer tasks, routed
    # files and drain jobs; the order holds); an int is kept exactly
    num_partitions: int | None = None
    sources_in_order: list[str] | None = None


def parse_stage(docs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """docs → parsed lines, one row per line: the line-grained lane that
    ``operators.sessionize`` and ``operators.yearfix.infer_years``
    continue. ``run_pipeline`` does not use it."""
    return parse_lines(explode_lines(docs), default_tz=cfg.default_tz, reference_year=cfg.reference_year)


def run_pipeline(
    docs: DataFrame,
    enrichment: DataFrame,
    cfg: PipelineConfig | None = None,
    out_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Full run. Returns the named intermediate/​output DataFrames; if
    ``out_dir`` is given, routed messages are fanned out to
    ``out_dir/routed`` and summaries to ``out_dir/…``.

    ``parsed_lines`` is the persisted kernel output: every message, before
    the -a/-b window (its grain is messages, not lines — the kernel never
    materializes lines). ``messages`` is the window over it. The caller
    releases the cache with ``result["parsed_lines"].unpersist()``."""
    cfg = cfg or PipelineConfig()
    # the window, the summary and the pattern counts all read the kernel
    # output — persist it so the Python stage runs once
    parsed = parse_messages_fused(docs, default_tz=cfg.default_tz, reference_year=cfg.reference_year).persist()
    messages = dt_between(parsed, cfg.dt_a, cfg.dt_b)
    enriched = with_source_order(enrich(messages, enrichment), cfg.sources_in_order)
    merged = global_sort(enriched, num_partitions=cfg.num_partitions)
    try:
        if out_dir:
            # the routed sinks are what readers wait for: nothing runs or
            # is analysed ahead of their commit
            route_write(merged.drop("source_order"), os.path.join(out_dir, "routed"))
        result = {
            "parsed_lines": parsed,
            "messages": messages,
            "enriched": enriched,
            "merged": merged,
            "sink_counts": sink_counts(enriched),
            "summary": doc_source_summary(docs, parsed, messages),
            "pattern_counts": doc_pattern_hit_miss(docs, parsed),
        }
        if out_dir:
            _write_together({name: result[name] for name in ("sink_counts", "summary", "pattern_counts")}, out_dir)
    except BaseException:
        parsed.unpersist()  # the caller gets no result to release it from
        raise
    return result


def _write_together(tables: dict[str, DataFrame], out_dir: str) -> None:
    """Write each table to ``out_dir/<name>``, all at once, one thread per
    table. ``InheritableThread`` carries the caller's job group and local
    properties into each write. Every write finishes before the first
    error (in table order) is re-raised."""
    errors: dict[str, Exception] = {}

    def write(name: str, df: DataFrame) -> None:
        try:
            df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
        except Exception as e:  # re-raised on the caller's thread below
            errors[name] = e

    threads = [InheritableThread(target=write, args=item) for item in tables.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for name in tables:
        if name in errors:
            raise errors[name]


# --------------------------------------------------------------------------
# checkpoint / resume + lineage (M10)
# --------------------------------------------------------------------------
MANIFEST_SCHEMA = (
    "source string, n_messages long, dt_first timestamp, dt_last timestamp, "
    "n_docs long, n_input_files long, n_partitions long, "
    "patterns_used array<int>, pattern_hits map<int,bigint>, "
    "n_lines_missed long, completed_at double, run_id string"
)


def _manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "manifest")


def read_manifest(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    path = _manifest_path(checkpoint_dir)
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(path)
    except Exception:
        return local_df(spark, [], MANIFEST_SCHEMA)


def run_pipeline_resumable(
    docs: DataFrame,
    enrichment: DataFrame,
    cfg: PipelineConfig,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str | None = None,
) -> dict:
    """Checkpointed run: skip sources already in the manifest, process the
    remainder, then append their lineage rows. Unit of work = source
    (≙ the reference's unit of work = file): a source's sink partitions
    commit before its manifest row exists, so a crash between the two only
    re-does work, never loses or duplicates a completed source
    (dynamic-partition overwrite keeps the re-do idempotent)."""
    spark = docs.sparkSession
    run_id = run_id or f"run-{int(time.time() * 1000)}"
    manifest = read_manifest(spark, checkpoint_dir)
    done_sources = manifest.select("source").distinct()
    todo = docs.join(F.broadcast(done_sources), "source", "left_anti")
    if todo.isEmpty():
        return {"skipped": True, "run_id": run_id, "n_new_sources": 0}

    result = run_pipeline(todo, enrichment, cfg, out_dir=out_dir)
    # lineage keys off the INPUT sources: a source whose docs yield zero
    # messages (all lines datetime-less) is still "completed" — otherwise
    # it would be reprocessed on every resume
    msg_agg = result["enriched"].groupBy("source").agg(
        F.count("*").alias("n_messages"),
        F.min("ts").alias("dt_first"),
        F.max("ts").alias("dt_last"),
        F.array_distinct(F.collect_set("pattern_id")).alias("patterns_used"),
    )
    # per-DTPD hit/miss metrics (north_star: "parse hit/miss rates per
    # DTPD pattern"): the run's line-grained counts per pattern, bounded by
    # |sources| × |DTPD table| rows — misses are the pattern_id = -1 lines
    pat_agg = result["pattern_counts"].groupBy("source").agg(
        F.map_from_entries(
            F.filter(
                F.collect_list(F.struct("pattern_id", "n")),
                lambda s: s["pattern_id"] >= 0,
            )
        ).alias("pattern_hits"),
        F.sum(F.when(F.col("pattern_id") < 0, F.col("n")).otherwise(0)).alias(
            "n_lines_missed"
        ),
    )
    # per-partition/file provenance from the INPUT side (north_star:
    # "per-partition lineage and metrics — files/partitions processed");
    # non-deterministic exprs must be projected before aggregation
    doc_agg = (
        todo.withColumn("_file", F.input_file_name())
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("_file").alias("n_input_files"),
            F.countDistinct("_pid").alias("n_partitions"),
        )
    )
    lineage = (
        todo.select("source")
        .distinct()
        .join(msg_agg, "source", "left")
        .join(doc_agg, "source", "left")
        .join(pat_agg, "source", "left")
        .withColumn("n_messages", F.coalesce(F.col("n_messages"), F.lit(0)))
        .withColumn("patterns_used", F.coalesce(F.col("patterns_used"), F.array().cast("array<int>")))
        .withColumn(
            "pattern_hits",
            F.coalesce(F.col("pattern_hits"), F.expr("map()").cast("map<int,bigint>")),
        )
        .withColumn("n_lines_missed", F.coalesce(F.col("n_lines_missed"), F.lit(0)))
        .withColumn("completed_at", F.lit(time.time()))
        .withColumn("run_id", F.lit(run_id))
        .select(*[c.split(" ")[0] for c in MANIFEST_SCHEMA.replace("\n", "").split(", ")])
    )
    # materialize BEFORE appending: the lineage plan reads the manifest it
    # is about to extend (lazy re-scan would anti-join away its own rows)
    lineage_rows = lineage.collect()
    local_df(spark, lineage_rows, MANIFEST_SCHEMA).write.mode("append").parquet(
        _manifest_path(checkpoint_dir)
    )
    metrics = {
        "skipped": False,
        "run_id": run_id,
        "n_new_sources": len(lineage_rows),
    }
    with open(os.path.join(checkpoint_dir, f"metrics-{run_id}.json"), "w") as f:
        json.dump(metrics, f)
    return metrics
