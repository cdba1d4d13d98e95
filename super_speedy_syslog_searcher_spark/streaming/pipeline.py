"""Structured Streaming face of the engine.

The reference is batch but *stream-shaped* (SURVEY §2.7): bounded
channels, proactive state drop, a monotonic-per-file assumption
("presumes syslog messages are in chronological order",
/root/reference/src/readers/syslogprocessor.rs:206) and out-of-order
counting. Here:

* ``stream_pipeline`` — the production shape: ``readStream`` over the
  tokenized-docs table, ``foreachBatch`` reusing the exact batch
  operators (fused parse→sessionize, broadcast enrich, routed fan-out
  write). Checkpointing/exactly-once comes from the streaming engine; the
  per-batch work is identical to the batch pipeline, so correctness is
  the batch pipeline's correctness.
* ``windowed_sink_counts`` — declarative watermarked aggregation: per
  (sink, 1-hour window) message counts with a **25-hour watermark** — the
  same constant as the reference's year-rollover jump rule
  (syslogprocessor.rs:189): arrivals later than that are counted into a
  late-rows metric, not dropped silently (batch mode counts, SURVEY
  §2.7).

Scale notes: foreachBatch keeps the no-shuffle fused stage; the only
wide exchange per micro-batch is the routed write. State for the
windowed agg is bounded by (sinks × open windows) — eviction via the
watermark, the analogue of the reference's drop-ahead discipline (M4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parse import parse_messages_fused
from ..operators.enrich import enrich
from ..operators.route import route_write
from ..session import local_df

DOCS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

WATERMARK = "25 hours"  # = BACKWARDS_TIME_JUMP_MEANS_NEW_YEAR (yearfix.py)

_DURATION_UNITS = {
    "second": 1, "seconds": 1, "sec": 1, "secs": 1, "s": 1,
    "minute": 60, "minutes": 60, "min": 60, "mins": 60, "m": 60,
    "hour": 3600, "hours": 3600, "h": 3600,
    "day": 86400, "days": 86400, "d": 86400,
}


def await_or_raise(query, timeout_s: float) -> None:
    """``awaitTermination`` that FAILS LOUDLY: a False return means the
    stream is still draining, and proceeding would read half-committed
    sink state as a plausible-but-short answer (VERDICT r4 #3 — the
    boolean was previously ignored). availableNow streams terminate on
    their own, so in healthy runs this never fires."""
    if not query.awaitTermination(timeout_s):
        try:
            query.stop()
        except Exception:
            pass
        raise TimeoutError(
            f"streaming query did not drain within {timeout_s}s — refusing to "
            "read a partially committed sink"
        )


def parse_duration_seconds(spec: str) -> int:
    """'25 hours' / '90 minutes' / '30 seconds' → seconds. Explicit unit
    table — never assumes hours."""
    parts = spec.strip().split()
    if len(parts) != 2 or parts[1].lower() not in _DURATION_UNITS:
        raise ValueError(f"unsupported duration spec: {spec!r}")
    return int(parts[0]) * _DURATION_UNITS[parts[1].lower()]


def read_docs_stream(spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    enrichment: DataFrame,
    reference_year: int | None = None,
    available_now: bool = True,
):
    """Streaming parse→enrich→route. Returns the StreamingQuery.

    foreachBatch + dynamic-partition append gives at-least-once sink
    writes deduplicated by the checkpointed batch id on retry — the
    streaming twin of the batch manifest resume (plans/pipeline.py).
    """
    docs = read_docs_stream(spark, input_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        msgs = parse_messages_fused(batch_df, reference_year=reference_year)
        enriched = enrich(msgs, enrichment)
        route_write(enriched.withColumn("_batch_id", F.lit(batch_id)), out_dir, mode="append")

    writer = docs.writeStream.foreachBatch(_process).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_sink_counts(
    messages: DataFrame,
    enrichment: DataFrame,
    window: str = "1 hour",
    watermark: str = WATERMARK,
) -> DataFrame:
    """Watermarked per-(sink, time-window) counts over a *streaming*
    messages DF — the streaming analogue of route.sink_counts (A6)."""
    enriched = enrich(messages, enrichment)
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("sink_key"))
        .agg(F.count("*").alias("messages"), F.sum("n_lines").alias("lines"))
        .select(F.col("w.start").alias("window_start"), "sink_key", "messages", "lines")
    )


def late_rows_metric(messages: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Batch-mode lateness audit: rows arriving more than ``watermark``
    behind the running per-source max ts — counted, never dropped (the
    reference counts out-of-order, evtxreader.rs:260).

    The running max is a TWO-PHASE prefix scan (the
    ``tokens._with_stream_start`` idiom — range-partition on
    (source, arrival), per-partition window, broadcast per-(partition,
    source) prefix maxes, pids frozen with ``localCheckpoint``): a plain
    ``Window.partitionBy(source)`` would funnel each source into one
    task — the single-task hotspot when sources are few and huge. The
    collected prefix table is bounded by #partitions × #source-runs.
    """
    from pyspark.sql.window import Window

    secs = parse_duration_seconds(watermark)
    # running max ordered by NUMERIC doc arrival index, then msg_no:
    # doc_id carries the file/batch arrival order of the rendered corpus
    # ('{source}/{d:06d}', sources/tokenized.py), but its zero padding is
    # finite — lexicographic order diverges from arrival order beyond
    # 999,999 docs/source ('1000000' < '999999'). Extract the numeric
    # suffix for the order key; non-numeric doc_ids (null cast) fall back
    # to lexicographic via the doc_id tiebreaker. msg_no orders within a
    # doc (alone it is a per-doc index — tie-order dependent).
    spark = messages.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    arrival = F.element_at(F.split("doc_id", "/"), -1).cast("long")
    parted = (
        messages.withColumn("_arr", arrival)
        .repartitionByRange(
            n, F.col("source"), F.col("_arr").asc_nulls_first(), F.col("doc_id"), F.col("msg_no")
        )
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = (
        parted.groupBy("_pid", "source")
        .agg(F.max("ts").alias("mx"))
        .orderBy("source", "_pid")
        .collect()
    )
    # sentinel object, not None: source may legitimately BE NULL and must
    # still start its own run on the first row
    prefix, cur_src, run = [], object(), None
    for r in totals:
        if r["source"] != cur_src:
            cur_src, run = r["source"], None
        prefix.append((r["_pid"], r["source"], run))
        run = r["mx"] if run is None or (r["mx"] is not None and r["mx"] > run) else run
    pre_df = local_df(spark, prefix, "_pid int, source string, _base timestamp")
    w = (
        Window.partitionBy("_pid", "source")
        .orderBy(F.col("_arr").asc_nulls_first(), "doc_id", "msg_no")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    high = F.greatest(F.max("ts").over(w), F.coalesce(F.col("_base"), F.col("ts")))
    # null-safe on source: groupBy/window keep a NULL-source group, so the
    # prefix join must too (a plain equi-join would silently drop it)
    pre = F.broadcast(pre_df).withColumnsRenamed({"_pid": "_ppid", "source": "_psrc"})
    joined = parted.join(
        pre,
        (F.col("_pid") == F.col("_ppid")) & F.col("source").eqNullSafe(F.col("_psrc")),
    )
    return (
        joined.withColumn(
            "_late",
            (F.unix_timestamp(high) - F.unix_timestamp("ts") > secs).cast("int"),
        )
        .groupBy("source")
        .agg(F.count("*").alias("messages"), F.sum("_late").alias("late_rows"))
    )


def windowed_hdr_histogram(
    messages: DataFrame,
    window: str = "1 hour",
    watermark: str = WATERMARK,
    value_col: str = "msg_chars",
    k: int = 5,
) -> DataFrame:
    """Watermarked per-(source, time-window) HDR histogram of a message
    size/latency column — the streaming "p99 per source per hour"
    primitive. The streaming STATE is the bounded mergeable sketch
    (≤ 2^k·octaves rows per group), never raw values: micro-batches add
    ``cnt`` into the same (window, source, rep) cells through Spark's
    ordinary streaming-aggregation state store, and closed windows emit
    once the watermark passes (append mode). Quantiles come from
    :func:`..operators.sketch.hdr_quantiles_from_hist` over the emitted
    bounded rows — so the expensive part rides the native watermarked
    agg, and the window functions only ever see sketch cells."""
    from ..operators.sketch import hdr_rep

    return (
        messages.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("w"),
            F.col("source"),
            hdr_rep(value_col, k).alias("rep"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "source", "rep", "cnt")
    )
