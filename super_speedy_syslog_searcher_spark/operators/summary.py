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

``counter_preagg`` + ``counter_tables`` give those rows (and the per-sink
``route.sink_counts``) once more, for a caller that wants all three
tables at once: one small aggregate collected to the driver, from which
each table is derived in Python.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codec import doc_line_stats
from .filters import dt_after_or_before


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


SINK_COUNTS_DDL = "sink_key string, messages bigint, lines bigint, bytes bigint, dt_first timestamp, dt_last timestamp"
SUMMARY_DDL = (
    "source string, lines_processed bigint, lines_with_dt bigint, lines_dropped bigint, "
    "bytes_processed bigint, syslines bigint, dt_first timestamp, dt_last timestamp"
)
PATTERN_COUNTS_DDL = "source string, pattern_id int, n bigint, kind string"


def counter_preagg(docs: DataFrame, labelled: DataFrame, dt_a=None, dt_b=None) -> DataFrame:
    """Every ``--summary`` counter of one run in at most sources × patterns
    × 2 rows: ONE union grouped by (source, sink_key, pattern_id,
    in_window). The docs leg gives each source's lines and chars
    (``doc_line_stats``, docs with lines only) with ``in_window`` NULL;
    the message leg is ``labelled`` = ``enrich(parsed, enrichment)`` —
    every message of the kernel, before the -a/-b window, with its sink —
    flagged by the window predicate of ``filters.dt_between``.
    ``ts_min``/``ts_max`` are epoch microseconds, so the driver reads
    instants, not local wall-clock times."""
    lines, chars = doc_line_stats(F.col("tokens"))
    doc_leg = docs.select(
        "source",
        F.lit(None).cast("string").alias("sink_key"),
        F.lit(None).cast("int").alias("pattern_id"),
        F.lit(None).cast("boolean").alias("in_window"),
        lines.alias("n_lines"),
        chars.cast("long").alias("n_chars"),
        F.lit(None).cast("timestamp").alias("ts"),
    ).filter(F.col("n_lines") > 0)
    # a NULL ts fails the window as dt_between's filter drops it
    in_window = F.coalesce(dt_after_or_before(F.col("ts"), dt_a, dt_b), F.lit(False))
    msg_leg = labelled.select(
        "source", "sink_key", "pattern_id", in_window.alias("in_window"), "n_lines", "n_chars", "ts"
    )
    return (
        doc_leg.unionByName(msg_leg)
        .groupBy("source", "sink_key", "pattern_id", "in_window")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_lines").alias("lines"),
            F.sum("n_chars").alias("chars"),
            F.unix_micros(F.min("ts")).alias("ts_min"),
            F.unix_micros(F.max("ts")).alias("ts_max"),
        )
    )


def counter_tables(rows) -> dict[str, tuple[list[tuple], str]]:
    """The three counter tables, as ``(rows, ddl)``, from the collected rows
    of :func:`counter_preagg`. Each mirrors a DataFrame function row for row
    and type for type:

    - ``sink_counts`` ≙ ``route.sink_counts`` over the windowed, enriched
      messages: the in-window message rows per sink;
    - ``summary`` ≙ :func:`doc_source_summary`: one row per source, the
      NULL-source group included, then the rollup's grand-total row (none
      when there is no row at all, as ``rollup`` gives none);
    - ``pattern_counts`` ≙ :func:`doc_pattern_hit_miss`: hits per
      (source, pattern_id), and misses (pattern_id = -1) = lines − hits,
      rows with n > 0 only.
    """
    sinks: dict = {}  # sink_key -> [messages, lines, bytes, ts_min, ts_max]
    sources: dict = {}  # source -> [lines, with_dt, member_lines, chars, syslines, ts_min, ts_max]
    hits: dict = {}  # (source, pattern_id) -> n
    for r in rows:
        src = sources.setdefault(r["source"], [0, 0, 0, 0, 0, None, None])
        miss = (r["source"], -1)
        if r["in_window"] is None:  # docs leg
            src[0] += r["lines"]
            src[3] += r["chars"]
            hits[miss] = hits.get(miss, 0) + r["lines"]
            continue
        key = (r["source"], r["pattern_id"])
        hits[key] = hits.get(key, 0) + r["n"]
        hits[miss] = hits.get(miss, 0) - r["n"]
        src[1] += r["n"]
        if r["in_window"]:
            src[2] += r["lines"]
            src[4] += r["n"]
            _widen(src, r["ts_min"], r["ts_max"])
            sink = sinks.setdefault(r["sink_key"], [0, 0, 0, None, None])
            sink[0] += r["n"]
            sink[1] += r["lines"]
            sink[2] += r["chars"]
            _widen(sink, r["ts_min"], r["ts_max"])
    if sources:
        total = [0, 0, 0, 0, 0, None, None]
        for acc in sources.values():
            total[:5] = [t + a for t, a in zip(total[:5], acc)]
            _widen(total, acc[5], acc[6])
        summary = [*sources.items(), (None, total)]
    else:
        summary = []
    return {
        "sink_counts": ([(k, m, n, b, _utc(lo), _utc(hi)) for k, (m, n, b, lo, hi) in sinks.items()], SINK_COUNTS_DDL),
        "summary": (
            [(s, n, d, n - m, c, k, _utc(lo), _utc(hi)) for s, (n, d, m, c, k, lo, hi) in summary],
            SUMMARY_DDL,
        ),
        "pattern_counts": (
            [(s, p, n, "hit" if p is not None and p >= 0 else "miss") for (s, p), n in hits.items() if n > 0],
            PATTERN_COUNTS_DDL,
        ),
    }


def _widen(acc: list, lo: int | None, hi: int | None) -> None:
    """Stretch the (ts_min, ts_max) in ``acc``'s last two slots over [lo, hi]."""
    if lo is not None:
        acc[-2] = lo if acc[-2] is None else min(acc[-2], lo)
        acc[-1] = hi if acc[-1] is None else max(acc[-1], hi)


def _utc(micros: int | None) -> datetime | None:
    return None if micros is None else datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(microseconds=micros)


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
