"""The ``--summary`` counters as DataFrame aggregates.

Reference: per-file reader summaries + grand totals —
``SummaryBlockReader`` (/root/reference/src/readers/blockreader.rs:515-534),
``SummaryLineReader`` (linereader.rs:151-171), ``SummarySyslineReader``
(syslinereader.rs:382-445, incl. per-DTPD pattern-use counts),
``SummaryPrinted`` (printer/summary.rs:151-171), grand-total rollup
(s4.rs:3500-3590).

The per-file + grand-total structure is a textbook 2-level rollup →
``df.rollup("source")``; NULL source row = grand total. Per-pattern
hit/miss counts (north_star metric "parse hit/miss rates per DTPD
pattern") count parsed lines.

Two groundings of the same counters: ``source_summary`` /
``pattern_hit_miss`` read parsed LINES; ``doc_source_summary`` /
``doc_pattern_hit_miss`` read the docs table plus the messages of the
fused kernel — what ``run_pipeline`` has, since it never materializes
lines — and give the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codec import doc_line_stats


def source_summary(parsed_lines: DataFrame, messages: DataFrame) -> DataFrame:
    """Per-source counters with a grand-total rollup row (source=NULL).

    ``lines_processed``  ≙ SummaryLineReader.lines
    ``lines_with_dt``    ≙ datetime-bearing lines (sysline starts)
    ``lines_dropped``    ≙ lines not routed into any message (leading
                           continuation lines; computed as processed −
                           member lines)
    ``bytes_processed``  ≙ SummaryBlockReader bytes (char count here)
    ``syslines``         ≙ SummarySyslineReader.syslines processed
    ``dt_first/dt_last`` ≙ SummarySyslineReader datetime_first/last
    """
    lines_agg = parsed_lines.rollup("source").agg(
        F.count("*").alias("lines_processed"),
        F.sum(F.when(F.col("ts").isNotNull(), 1).otherwise(0)).alias("lines_with_dt"),
        F.sum(F.length("text")).alias("bytes_processed"),
    )
    msg_agg = messages.rollup("source").agg(
        F.count("*").alias("syslines"),
        F.sum("n_lines").alias("member_lines"),
        F.min("ts").alias("dt_first"),
        F.max("ts").alias("dt_last"),
    )
    # rollup emits source=NULL for the grand total → null-safe join key
    joined = lines_agg.join(
        msg_agg.withColumnRenamed("source", "_src"),
        lines_agg["source"].eqNullSafe(F.col("_src")),
        "left",
    ).drop("_src")
    return joined.select(
        lines_agg["source"],
        "lines_processed",
        "lines_with_dt",
        (F.col("lines_processed") - F.coalesce(F.col("member_lines"), F.lit(0))).alias("lines_dropped"),
        "bytes_processed",
        F.coalesce(F.col("syslines"), F.lit(0)).alias("syslines"),
        "dt_first",
        "dt_last",
    )


def pattern_hit_miss(parsed_lines: DataFrame) -> DataFrame:
    """Per-(source, pattern) hit counts + per-source miss counts
    ≙ DateTimePatternCounts (syslinereader.rs:99) and the ezcheck/regex
    attempt counters. pattern_id = -1 rows are the misses."""
    return (
        parsed_lines.groupBy("source", "pattern_id")
        .agg(F.count("*").alias("n"))
        .withColumn("kind", F.when(F.col("pattern_id") >= 0, "hit").otherwise("miss"))
    )


def doc_source_summary(docs: DataFrame, parsed: DataFrame, messages: DataFrame) -> DataFrame:
    """``source_summary`` from doc-grained inputs: ``docs`` gives lines and
    chars per doc (``doc_line_stats``), ``parsed`` holds every message —
    one per datetime line — and ``messages`` is ``parsed`` after the
    -a/-b window. Each input contributes its own counter columns to ONE
    union, rolled up once; a doc without lines adds no row, as it adds no
    line to ``source_summary``."""
    lines, chars = doc_line_stats(F.col("tokens"))
    zero, no_ts = F.lit(0), F.lit(None).cast("timestamp")
    cols = ("lines", "chars", "with_dt", "syslines", "member_lines", "ts")

    def counters(df: DataFrame, *values) -> DataFrame:
        return df.select("source", *[v.alias(c) for v, c in zip(values, cols)])

    rows = (
        counters(docs, lines, chars, zero, zero, zero, no_ts)
        .filter(F.col("lines") > 0)
        .unionByName(counters(parsed, zero, zero, F.lit(1), zero, zero, no_ts))
        .unionByName(counters(messages, zero, zero, zero, F.lit(1), F.col("n_lines"), F.col("ts")))
    )
    return rows.rollup("source").agg(
        F.sum("lines").alias("lines_processed"),
        F.sum("with_dt").alias("lines_with_dt"),
        (F.sum("lines") - F.sum("member_lines")).alias("lines_dropped"),
        F.sum("chars").alias("bytes_processed"),
        F.sum("syslines").alias("syslines"),
        F.min("ts").alias("dt_first"),
        F.max("ts").alias("dt_last"),
    )


def doc_pattern_hit_miss(docs: DataFrame, parsed: DataFrame) -> DataFrame:
    """``pattern_hit_miss`` from doc-grained inputs. A hit is a message's
    datetime line, so hits per (source, pattern_id) count the messages in
    ``parsed``; the misses (pattern_id = -1) are a source's lines less its
    hits: every doc adds its lines and every message takes one away."""
    lines, _ = doc_line_stats(F.col("tokens"))
    signed = (
        docs.select("source", F.lit(-1).alias("pattern_id"), lines.alias("n"))
        .unionByName(parsed.select("source", "pattern_id", F.lit(1).alias("n")))
        .unionByName(parsed.select("source", F.lit(-1).alias("pattern_id"), F.lit(-1).alias("n")))
    )
    return (
        signed.groupBy("source", "pattern_id")
        .agg(F.sum("n").alias("n"))
        .filter(F.col("n") > 0)
        .withColumn("kind", F.when(F.col("pattern_id") >= 0, "hit").otherwise("miss"))
    )


def rate_anomalies(
    msgs: DataFrame,
    bucket: str = "hour",
    z_threshold: float = 2.0,
    ts_col: str = "ts",
    source_col: str = "source",
) -> DataFrame:
    """Per-source log-volume burst/drought detection: bucket message
    counts by time, z-score each bucket against the source's own count
    distribution. The operational question every telemetry pipeline
    asks of the reference's per-source summary counters over time —
    which source suddenly got loud (attack, crash loop) or silent
    (dead forwarder).

    Scale shape (100 TB): histogram-first, the length_quantiles
    doctrine (operators/curation.py) — raw messages collapse to
    ``(source, bucket, n)`` with ONE partial-agg shuffle; the
    per-source moments run over that bounded histogram and broadcast
    back. Moments are derived from exact integer sums (Σn, Σn², cnt)
    so the doubles are bit-identical across engines and partitionings
    — never ``avg``/``stddev`` whose partial-merge order floats.

    Returns ``(source, bucket_ts, n, mean_n, z, is_burst)``; a source
    with zero variance yields NULL z and never flags.
    """
    hist = msgs.groupBy(
        F.col(source_col).alias("source"),
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    moments = hist.groupBy("source").agg(
        F.sum("n").alias("_s1"),
        F.sum(F.col("n") * F.col("n")).alias("_s2"),
        F.count("*").alias("_c"),
    )
    mean = F.col("_s1") / F.col("_c")
    var = F.col("_s2") / F.col("_c") - mean * mean
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        hist.join(F.broadcast(moments), "source")
        .select(
            "source",
            "bucket_ts",
            "n",
            F.round(mean, 4).alias("mean_n"),
            F.when(sd > 0, F.round((F.col("n") - mean) / sd, 4)).alias("z"),
            F.when(sd > 0, F.abs(F.col("n") - mean) > z_threshold * sd)
            .otherwise(F.lit(False))
            .alias("is_burst"),
        )
    )


_BUCKET_SECONDS = {"hour": 3600, "day": 86400, "minute": 60}


def rolling_rates(
    msgs: DataFrame,
    bucket: str = "hour",
    window_buckets: int = 24,
    ts_col: str = "ts",
    source_col: str = "source",
) -> DataFrame:
    """Per-source trailing-window volume: for each (source, time
    bucket), the exact sum / present-bucket count / mean of message
    counts over the trailing ``window_buckets`` buckets — the "is this
    hour loud vs the last day" face of :func:`rate_anomalies` (which
    z-scores against the source's WHOLE history instead).

    The frame is a RANGE frame over epoch seconds, so a silent gap
    narrows ``roll_buckets`` rather than silently stretching the window
    across it (sparse-safe — empty buckets are absent rows, the
    histogram-first doctrine).

    Scale shape (100 TB): raw messages collapse to the (source, bucket,
    n) histogram with ONE partial-agg shuffle; the window partitions per
    SOURCE over that bounded histogram (≤ corpus-span/bucket rows per
    source), never over raw messages. ``roll_sum``/``roll_buckets`` are
    exact integers; ``roll_mean`` is one IEEE division — bit-identical
    across engines and partitionings.

    Returns ``(source, bucket_ts, n, roll_sum, roll_buckets,
    roll_mean)``.
    """
    from pyspark.sql.window import Window

    if bucket not in _BUCKET_SECONDS:
        raise ValueError(f"bucket must be one of {sorted(_BUCKET_SECONDS)}, got {bucket!r}")
    span = _BUCKET_SECONDS[bucket] * (window_buckets - 1)
    hist = msgs.groupBy(
        F.col(source_col).alias("source"),
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.unix_timestamp("bucket_ts"))
        .rangeBetween(-span, 0)
    )
    roll_sum = F.sum("n").over(w)
    roll_cnt = F.count("n").over(w)
    return hist.select(
        "source",
        "bucket_ts",
        "n",
        roll_sum.alias("roll_sum"),
        roll_cnt.cast("bigint").alias("roll_buckets"),
        (roll_sum / roll_cnt).alias("roll_mean"),
    )


def distribution_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Total-variation distance between two corpus snapshots' key
    distributions, per group — the drift detector a daily-crawl pipeline
    runs before trusting a new snapshot ("did source X's event-type /
    template / user mix shift since yesterday?").

    TV(P,Q) = 1/2 * sum_k |P(k) - Q(k)| is computed with an EXACT
    INTEGER numerator: ``sum_k |c_a(k)*n_b - c_b(k)*n_a|`` (cross-
    multiplied counts — no per-term float division whose summation
    order could round differently per engine), then ONE correctly-
    rounded division by ``2*n_a*n_b`` — so even the float ``tv`` column
    is bit-identical in Spark and a DuckDB twin. Bound: counts must
    satisfy ``c * n < 2^63``; beyond that, bucket the key first
    (``curation.hash_bucket``) so counts are per-bucket.

    Scale shape: each snapshot collapses to its (group, key) histogram
    via partial-aggregable groupBy; the FULL OUTER join runs on
    histogram rows (bounded by distinct keys), never raw rows; the
    group totals ride the same histograms. Zero extra scans.

    Returns ``(*group_cols, n_a, n_b, tv_num, tv)``.
    """
    gc = list(group_cols)

    def hist(df, cnt_name):
        return df.groupBy(*gc, key_col).agg(F.count("*").alias(cnt_name))

    ha, hb = hist(df_a, "c_a"), hist(df_b, "c_b")
    joined = ha.join(hb, gc + [key_col], "full_outer").fillna(0, ["c_a", "c_b"])
    # group totals DERIVED FROM the histograms (sum of cnt), not a second
    # raw scan per snapshot: each snapshot is read exactly once, and the
    # totals are |groups|-row aggregates of bounded histogram rows —
    # broadcast back to the joined histogram
    tot_a = ha.groupBy(*gc).agg(F.sum("c_a").alias("n_a"))
    tot_b = hb.groupBy(*gc).agg(F.sum("c_b").alias("n_b"))
    num = joined.join(F.broadcast(tot_a), gc).join(F.broadcast(tot_b), gc).groupBy(*gc).agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.sum(F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a")))
        .cast("long")
        .alias("tv_num"),
    )
    return num.select(
        *gc,
        "n_a",
        "n_b",
        "tv_num",
        (
            F.col("tv_num").cast("double")
            / (F.lit(2).cast("long") * F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("tv"),
    )
