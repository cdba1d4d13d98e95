"""Driver-contract queries + DuckDB oracles.

Strategy: the driver gives us parquet tables (``events``, ``documents``,
``embeddings`` …) and compares each Spark query against an ANSI-SQL oracle
run by DuckDB on the SAME tables. The pipeline's native input is a
tokenized-log table (BASELINE.json input_hint), so the pipeline queries
first RENDER a deterministic tokenized corpus from ``events`` with
JVM-side expressions (``date_format`` + ``concat``), encode it to token
arrays, and push it through the full token→parse→sessionize→enrich→route
engine. Because every rendered line embeds its row's ``ts`` and
``event_id``, the oracle can state the expected output directly from
``events.ts`` — an end-to-end roundtrip check of the whole parse path
(reference analogue: tools/compare-current-and-expected golden outputs,
/root/reference/tools/compare-current-and-expected/compare.sh).

Format-family assignment is ``user_id % 8``; families with second-only
precision truncate expected ts to the second (oracle CASE mirrors this).

Every aggregate/computed column is aliased identically in the Spark code
and the SQL (driver hashes by sorted column name).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.codec import encode_text_udf
from .functions.parse import parse_messages_fused
from .operators.enrich import enrich
from .operators.merge import global_sort, with_source_order
from .operators.route import sink_counts
from .operators.summary import doc_pattern_hit_miss, doc_source_summary
from .session import local_df

REFERENCE_YEAR = 2024  # events corpus is Jan 2024

# families with full-microsecond fidelity after a render→parse roundtrip
US_EXACT_FAMS = (0, 1, 4)

# expected winning DTPD pattern per family (table order = dispatch order;
# pinned by tests/test_entry_contract.py)
FAMILY_PATTERN_ID = {0: 9, 1: 2, 2: 4, 3: 23, 4: 39, 5: 18, 6: 13, 7: 24}

# deterministic enrichment rows for the 8 rendered sources; mirrored
# literally in the oracle SQL (CASE) — facility/severity by family index
FACILITIES = ["auth", "daemon", "kern", "mail", "cron", "local0"]
SEVERITIES = ["debug", "info", "notice", "warning", "err", "crit"]
SEV_CLASS = {"debug": "dbg", "info": "info", "notice": "info", "warning": "warn", "err": "err", "crit": "err"}


def _utc(spark: SparkSession) -> SparkSession:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


# dual-consumer queries persist their shared parse output; the returned
# DataFrame still references it, so the query itself can never unpersist.
# Instead each NEW _persist releases every previous one — across the
# 50-query gate run at most ONE cached intermediate is live, instead of
# the caches of every persisting query accumulating executor storage for
# the rest of the session (ADVICE r4 low).
_PERSISTED: list = []


def _persist(df: DataFrame) -> DataFrame:
    for old in _PERSISTED:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass  # session may have restarted since; nothing to free
    _PERSISTED.clear()
    _PERSISTED.append(df)
    return df.persist()


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# rendered tokenized corpus (events → input_hint-shaped docs table)
# ---------------------------------------------------------------------------
def _line_expr() -> F.Column:
    """One log line per event row, format family = user_id % 8.

    All JVM-side (date_format/concat) — deterministic and codegen'd.
    Every line ends with ' eid=<event_id>' for roundtrip recovery.
    """
    ts = F.col("ts")
    fam = F.col("user_id") % 8
    eid = F.col("event_id")
    day_sp = F.lpad(F.date_format(ts, "d"), 2, " ")  # '%e' space-padded day
    line = (
        F.when(
            fam == 0,  # RFC 3339 with Z offset, µs
            F.concat(F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("Z host app["), eid, F.lit("]: "), F.col("event_type")),
        )
        .when(
            fam == 1,  # samba-style bracketed, µs
            F.concat(F.lit("["), F.date_format(ts, "yyyy/MM/dd HH:mm:ss.SSSSSS"), F.lit("] oplock.c:1340 "), F.col("event_type")),
        )
        .when(
            fam == 2,  # Apache CLF, seconds
            F.concat(F.lit("192.168.0.1 - - ["), F.date_format(ts, "dd/MMM/yyyy:HH:mm:ss"), F.lit(' +0000] "GET /p'), eid, F.lit('" 200 17')),
        )
        .when(
            fam == 3,  # RFC 3164 no-year, seconds
            F.concat(F.lit("<14>"), F.date_format(ts, "MMM"), F.lit(" "), day_sp, F.lit(" "), F.date_format(ts, "HH:mm:ss"), F.lit(" host sshd["), eid, F.lit("]: "), F.col("event_type")),
        )
        .when(
            fam == 4,  # strace epoch.frac, µs
            F.concat(F.unix_timestamp(ts).cast("string"), F.lit("."), F.date_format(ts, "SSSSSS"), F.lit(" read(3, ..., 1024) = 17")),
        )
        .when(
            fam == 5,  # Windows MM/DD/YY, seconds
            F.concat(F.date_format(ts, "MM/dd/yy HH:mm:ss"), F.lit(": infinst: "), F.col("event_type")),
        )
        .when(
            fam == 6,  # synology word<TAB>dt, seconds
            F.concat(F.lit("info\t"), F.date_format(ts, "yyyy/MM/dd HH:mm:ss"), F.lit("\tSYSTEM:\t"), F.col("event_type")),
        )
        .otherwise(  # RFC 2822, seconds
            F.concat(F.date_format(ts, "EEE, d MMM yyyy HH:mm:ss"), F.lit(" +0000 "), F.col("event_type")),
        )
    )
    return F.concat(line, F.lit(" eid="), eid)


def _doc_id_expr() -> F.Column:
    return F.concat(F.lit("e"), F.lpad(F.col("event_id").cast("string"), 12, "0"))


def _source_expr() -> F.Column:
    return F.concat(F.lit("ev"), (F.col("user_id") % 8).cast("string"))


def rendered_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → input_hint table (doc_id, tokens array<int32>, n_tok, source);
    one single-line doc per event."""
    ev = _events(spark, sf_dir)
    docs = ev.select(
        _doc_id_expr().alias("doc_id"),
        _source_expr().alias("source"),
        _line_expr().alias("text"),
    ).withColumn("tokens", encode_text_udf("text"))
    return docs.select("doc_id", "tokens", F.size("tokens").alias("n_tok"), "source")


def rendered_docs_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → one doc per user; 'error' events carry two datetime-less
    continuation lines (stack-trace style) — exercises sessionization."""
    ev = _events(spark, sf_dir)
    line = _line_expr()
    line = F.when(
        F.col("event_type") == "error",
        F.concat(line, F.lit("\n  at module alpha\n  at module beta")),
    ).otherwise(line)
    per_user = (
        ev.select(F.col("user_id"), F.col("event_id"), line.alias("text"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct("event_id", "text"))).alias("ls"))
        .select(
            F.concat(F.lit("u"), F.lpad(F.col("user_id").cast("string"), 8, "0")).alias("doc_id"),
            F.concat(F.lit("ev"), (F.col("user_id") % 8).cast("string")).alias("source"),
            F.concat_ws("\n", F.transform("ls", lambda s: s["text"])).alias("text"),
        )
    )
    docs = per_user.withColumn("tokens", encode_text_udf("text"))
    return docs.select("doc_id", "tokens", F.size("tokens").alias("n_tok"), "source")


def parsed_messages(spark: SparkSession, sf_dir: str, multiline: bool = False) -> DataFrame:
    """Full token→parse→sessionize run of the rendered corpus — the
    zero-shuffle fused path (docs are doc-grained, so message grouping is
    partition-local)."""
    _utc(spark)
    docs = rendered_docs_multiline(spark, sf_dir) if multiline else rendered_docs(spark, sf_dir)
    return parse_messages_fused(docs, reference_year=REFERENCE_YEAR)


_EID = r"eid=(\d+)"


def _with_event_id(messages: DataFrame) -> DataFrame:
    return messages.withColumn("event_id", F.regexp_extract("text", _EID, 1).cast("bigint"))


# oracle fragment: expected parse result per family (µs vs second fidelity)
ORACLE_TRUNC_TS = "CASE WHEN user_id % 8 IN (0,1,4) THEN ts ELSE date_trunc('second', ts) END"


# ---------------------------------------------------------------------------
# pipeline queries
# ---------------------------------------------------------------------------
def q_pipe_parse_recover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end roundtrip + per-row token equality (north_rule /
    input_hint invariant) in ONE query (r3 registry consolidation —
    absorbs the former ``pipe_token_equality``): every event's rendered
    line must parse back to its own timestamp (per-family truncation),
    and every message's token array after the full docs→split→parse→
    sessionize path must equal the original rendering codepoint for
    codepoint — checked via (count, sum, position-weighted sum) of the
    codepoints; the weighted sum catches reorderings plain sums miss."""
    _utc(spark)
    msgs = _with_event_id(parsed_messages(spark, sf_dir))
    return msgs.select(
        "event_id",
        "ts",
        F.size("tokens").cast("bigint").alias("n_tok"),
        F.expr("aggregate(tokens, 0L, (a, t) -> a + CAST(t AS BIGINT))").alias("tok_sum"),
        F.expr(
            "aggregate(zip_with(tokens, sequence(1, size(tokens)), (t, i) -> CAST(t AS BIGINT) * i), 0L, (a, x) -> a + x)"
        ).alias("tok_wsum"),
    )


def q_pipe_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-line docs: continuation lines must fold into their message."""
    msgs = _with_event_id(parsed_messages(spark, sf_dir, multiline=True))
    return msgs.select("event_id", "ts", "n_lines")


SQL_PIPE_SESSIONIZE = f"""
SELECT event_id, {ORACLE_TRUNC_TS} AS ts,
       CASE WHEN event_type = 'error' THEN 3 ELSE 1 END AS n_lines
FROM events
"""


FILTER_A = "2024-01-10 00:00:00"
FILTER_B = "2024-01-20 23:59:59.999999"


def q_pipe_dt_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-a/-b datetime-window filter (inclusive both ends) + per-source agg."""
    msgs = parsed_messages(spark, sf_dir)
    a = datetime.fromisoformat(FILTER_A).replace(tzinfo=timezone.utc)
    b = datetime.fromisoformat(FILTER_B).replace(tzinfo=timezone.utc)
    return (
        msgs.filter(F.col("ts").between(F.lit(a), F.lit(b)))
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.min("ts").alias("dt_first"), F.max("ts").alias("dt_last"))
    )


SQL_PIPE_DT_FILTER = f"""
WITH m AS (SELECT 'ev' || (user_id % 8) AS source, {ORACLE_TRUNC_TS} AS mts FROM events)
SELECT source, count(*) AS n, min(mts) AS dt_first, max(mts) AS dt_last
FROM m WHERE mts BETWEEN TIMESTAMP '{FILTER_A}' AND TIMESTAMP '{FILTER_B}'
GROUP BY source
"""


def q_pipe_merge_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global merge-sort with stable tie-break (ts, ts_ns, source_order,
    source, doc_id, msg_no); the global rank is materialized (scalable
    offset-broadcast zipWithIndex, no single-partition window) so the
    driver's order-insensitive hash still verifies ORDER."""
    from .operators.merge import with_global_rank

    # filter FIRST so the repeated jobs below (range sampling,
    # partition-count collect) re-execute only the small in-range slice;
    # at production scale the equivalent is ts-partition pruning before
    # the sort
    msgs = _persist(parsed_messages(spark, sf_dir).filter(F.dayofmonth("ts") == 5))
    merged = with_global_rank(global_sort(with_source_order(msgs)))
    return (
        _with_event_id(merged)
        .select((F.col("rank") + 1).alias("rn"), "event_id")
    )


SQL_PIPE_MERGE_ORDER = f"""
WITH m AS (
  SELECT event_id, {ORACLE_TRUNC_TS} AS mts, user_id % 8 AS fam,
         'e' || lpad(event_id::VARCHAR, 12, '0') AS doc_id
  FROM events
)
SELECT row_number() OVER (ORDER BY mts, fam, doc_id) AS rn, event_id
FROM m WHERE date_part('day', mts) = 5
"""


def enrichment_df(spark: SparkSession) -> DataFrame:
    rows = []
    for i in range(8):
        fac, sev = FACILITIES[i % 6], SEVERITIES[i % 6]
        rows.append((f"ev{i}", fac, sev, f"{fac}.{SEV_CLASS[sev]}"))
    return local_df(spark, rows, "source string, facility string, severity string, sink_key string")


# as-of enrichment cutover: mid-corpus (events span Jan 2024); each
# source's dimension row flips facility/severity by one index at T
ASOF_CUTOVER = datetime(2024, 1, 15, tzinfo=timezone.utc)


def asof_dim_history(spark: SparkSession) -> DataFrame:
    rows = []
    for i in range(8):
        rows.append(
            (f"ev{i}", datetime(1970, 1, 1, tzinfo=timezone.utc),
             FACILITIES[i % 6], SEVERITIES[i % 6])
        )
        rows.append(
            (f"ev{i}", ASOF_CUTOVER,
             FACILITIES[(i + 1) % 6], SEVERITIES[(i + 1) % 6])
        )
    return local_df(spark, rows, "source string, valid_from timestamp, facility string, severity string")


def _interval_dim(spark: SparkSession) -> DataFrame:
    """Seeded maintenance windows shared by the batch and streaming
    enrichment rows: two OVERLAPPING closed spans per source, so the
    deterministic later-start-wins election is pinned under the hash
    gate (Jan 10–14 is inside both; win.late must win)."""
    rows = []
    for i in range(8):
        rows.append(
            (f"ev{i}", datetime(2024, 1, 5, tzinfo=timezone.utc),
             datetime(2024, 1, 14, tzinfo=timezone.utc), "win.early")
        )
        rows.append(
            (f"ev{i}", datetime(2024, 1, 10, tzinfo=timezone.utc),
             datetime(2024, 1, 22, tzinfo=timezone.utc), "win.late")
        )
    return local_df(spark, rows, "source string, valid_from timestamp, valid_to timestamp, label string")


def _cidr_dim(spark: SparkSession) -> DataFrame:
    """Seeded CIDR dimension shared by the batch and streaming enrichment
    rows. Includes a sloppy duplicate of the /24 block with a conflicting
    attribute: it canonicalizes to the same network, and the keeper
    election takes min(struct(cidr, attrs)) = net.narrow — pinning
    canonicalization + deterministic election under the hash gate."""
    return local_df(
        spark,
        [
            ("10.0.0.0/8", "net.wide"),
            ("10.1.0.0/16", "net.mid"),
            ("10.1.2.0/24", "net.narrow"),
            ("10.1.2.9/24", "zz.ignored"),
        ],
        "cidr string, net_sink string",
    )


def q_pipe_enrich_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join enrichment + per-sink aggregate counts (A6),
    UNIONED with the AS-OF (temporal/SCD-2) enrichment over the same
    messages (r4.5 absorption; rows tagged by ``kind``): every source's
    dimension row changes facility/severity at the mid-corpus cutover,
    so each message must pick the version in effect at ITS OWN ts —
    the oracle states the temporal sink from first principles via a
    ``ts >= cutover`` CASE, never re-running the join; AND with the
    longest-prefix CIDR enrichment over per-message IPs derived from
    each event's own id (r5 absorption, ``kind='cidr'`` — VERDICT r4 #7:
    the one operator family with no oracle-checked face): the oracle
    derives the matched network from the seeded IPs via integer
    modulus CASE arms, never re-running the join. The CIDR dim seeds a
    sloppy duplicate block (``10.1.2.9/24``, conflicting attribute) so
    canonicalization + the deterministic min(struct) keeper election
    are pinned under the hash gate too; AND with the point-in-INTERVAL
    enrichment (r5 absorption, ``kind='interval'`` — "was this message
    inside a maintenance window"): two overlapping closed windows per
    source, the oracle restating containment + the later-start-wins
    overlap election as CASE arms over the message ts, never re-running
    the join."""
    from .operators.enrich import asof_enrich, cidr_enrich, interval_enrich, severity_class_col

    _utc(spark)
    msgs = _persist(parsed_messages(spark, sf_dir))
    enriched = enrich(msgs, enrichment_df(spark))
    static = sink_counts(enriched).select(
        F.lit("static").alias("kind"),
        "sink_key",
        "messages",
        "lines",
        "dt_first",
        "dt_last",
    )
    en2 = asof_enrich(msgs, asof_dim_history(spark))
    asof = (
        en2.withColumn(
            "sink_key",
            F.concat_ws(".", F.col("facility"), severity_class_col(F.col("severity"))),
        )
        .groupBy("sink_key")
        .agg(
            F.count("*").alias("messages"),
            F.count("*").alias("lines"),
            F.min("ts").alias("dt_first"),
            F.max("ts").alias("dt_last"),
        )
        .select(
            F.lit("asof").alias("kind"),
            "sink_key",
            "messages",
            "lines",
            "dt_first",
            "dt_last",
        )
    )
    eid = F.col("event_id")
    with_ip = _with_event_id(msgs).withColumn(
        "ip",
        F.when(eid % 5 == 0, F.lit("172.16.0.1")).otherwise(
            F.concat_ws(
                ".",
                F.lit("10"),
                (eid % 3).cast("string"),
                (eid % 7).cast("string"),
                (eid % 251).cast("string"),
            )
        ),
    )
    cidr = (
        cidr_enrich(with_ip, _cidr_dim(spark), ip_col="ip")
        .withColumn("sink_key", F.coalesce(F.col("net_sink"), F.lit("unmatched")))
        .groupBy("sink_key")
        .agg(
            F.count("*").alias("messages"),
            F.count("*").alias("lines"),
            F.min("ts").alias("dt_first"),
            F.max("ts").alias("dt_last"),
        )
        .select(
            F.lit("cidr").alias("kind"),
            "sink_key",
            "messages",
            "lines",
            "dt_first",
            "dt_last",
        )
    )
    interval = (
        interval_enrich(msgs, _interval_dim(spark))
        .withColumn("sink_key", F.coalesce(F.col("label"), F.lit("unmatched")))
        .groupBy("sink_key")
        .agg(
            F.count("*").alias("messages"),
            F.count("*").alias("lines"),
            F.min("ts").alias("dt_first"),
            F.max("ts").alias("dt_last"),
        )
        .select(
            F.lit("interval").alias("kind"),
            "sink_key",
            "messages",
            "lines",
            "dt_first",
            "dt_last",
        )
    )
    return static.unionByName(asof).unionByName(cidr).unionByName(interval)


_SINK_CASE = " ".join(
    f"WHEN {i} THEN '{FACILITIES[i % 6]}.{SEV_CLASS[SEVERITIES[i % 6]]}'" for i in range(8)
)
_SINK_CASE_V2 = " ".join(
    f"WHEN {i} THEN '{FACILITIES[(i + 1) % 6]}.{SEV_CLASS[SEVERITIES[(i + 1) % 6]]}'"
    for i in range(8)
)

SQL_PIPE_ENRICH_SINKS = f"""
WITH m AS (
  SELECT CASE user_id % 8 {_SINK_CASE} END AS sink_key, {ORACLE_TRUNC_TS} AS mts
  FROM events
),
m2 AS (
  SELECT CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
              THEN CASE user_id % 8 {_SINK_CASE_V2} END
              ELSE CASE user_id % 8 {_SINK_CASE} END END AS sink_key,
         {ORACLE_TRUNC_TS} AS mts
  FROM events
)
SELECT 'static' AS kind, sink_key, count(*) AS messages, count(*) AS lines,
       min(mts) AS dt_first, max(mts) AS dt_last
FROM m GROUP BY sink_key
UNION ALL
SELECT 'asof' AS kind, sink_key, count(*) AS messages, count(*) AS lines,
       min(mts) AS dt_first, max(mts) AS dt_last
FROM m2 GROUP BY sink_key
UNION ALL
SELECT 'cidr' AS kind, sink_key, count(*) AS messages, count(*) AS lines,
       min(mts) AS dt_first, max(mts) AS dt_last
FROM (
  -- longest-prefix match restated via integer math on the seeded IPs:
  -- ip = 172.16.0.1 when eid%5=0 (no block), else 10.(eid%3).(eid%7).x
  -- /24 block 10.1.2.0 beats /16 10.1.0.0 beats /8 10.0.0.0
  SELECT CASE WHEN event_id % 5 = 0 THEN 'unmatched'
              WHEN event_id % 3 = 1 AND event_id % 7 = 2 THEN 'net.narrow'
              WHEN event_id % 3 = 1 THEN 'net.mid'
              ELSE 'net.wide' END AS sink_key,
         {ORACLE_TRUNC_TS} AS mts
  FROM events
) m3 GROUP BY sink_key
UNION ALL
SELECT 'interval' AS kind, sink_key, count(*) AS messages, count(*) AS lines,
       min(mts) AS dt_first, max(mts) AS dt_last
FROM (
  -- containment in CLOSED windows + later-start-wins overlap election,
  -- restated as CASE arms: win.late [Jan10, Jan22] beats win.early
  -- [Jan5, Jan14] wherever both contain the ts
  SELECT CASE WHEN mts >= TIMESTAMP '2024-01-10 00:00:00'
                   AND mts <= TIMESTAMP '2024-01-22 00:00:00' THEN 'win.late'
              WHEN mts >= TIMESTAMP '2024-01-05 00:00:00'
                   AND mts <= TIMESTAMP '2024-01-14 00:00:00' THEN 'win.early'
              ELSE 'unmatched' END AS sink_key, mts
  FROM (SELECT {ORACLE_TRUNC_TS} AS mts FROM events) t
) m4 GROUP BY sink_key
"""


# the STREAMING face (q_stream_enrich_sinks) emits the SAME
# static∪asof∪cidr shape as the batch row and shares its oracle. The r4
# regression (a widened shared oracle silently orphaning this consumer)
# is guarded twice now: tests/test_oracle_parity.py runs every registry
# entry against its registered oracle, and both faces build their legs
# from the same helpers (_cidr_dim, asof_dim_history, sink-count agg).


def q_pipe_summary_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--summary counters per source + grand total (rollup row
    source=NULL) over the multiline corpus, UNIONED with per-source
    hourly volume burst detection over the same messages (r4.5
    absorption) and with Count-Min-sketch heavy hitters over the raw
    event stream's user ids (r5 absorption: ``kind='heavy'`` —
    ``source`` = 'u'+user_id, ``lines_processed`` = exact count,
    ``n`` = the CMS ESTIMATE; the oracle recomputes the identical d×w
    md5-probe cells and min-estimates in SQL, so the approximate sketch
    sits under an exact hash check) — the reference's counters extended
    along the time and key-cardinality axes."""
    from .operators.sketch import cms_heavy_hitters
    from .operators.summary import rate_anomalies

    _utc(spark)
    docs = rendered_docs_multiline(spark, sf_dir)
    msgs = _persist(parse_messages_fused(docs, reference_year=REFERENCE_YEAR))
    nulls = [
        F.lit(None).cast("timestamp").alias("bucket_ts"),
        F.lit(None).cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("mean_n"),
        F.lit(None).cast("double").alias("z"),
        F.lit(None).cast("boolean").alias("is_burst"),
    ]
    summ = doc_source_summary(docs, msgs, msgs).select(
        F.lit("summary").alias("kind"),
        "source",
        "lines_processed",
        "lines_with_dt",
        "lines_dropped",
        "syslines",
        *nulls,
    )
    rate = rate_anomalies(msgs, bucket="hour", z_threshold=2.0).select(
        F.lit("rate").alias("kind"),
        "source",
        F.lit(None).cast("bigint").alias("lines_processed"),
        F.lit(None).cast("bigint").alias("lines_with_dt"),
        F.lit(None).cast("bigint").alias("lines_dropped"),
        F.lit(None).cast("bigint").alias("syslines"),
        "bucket_ts",
        "n",
        "mean_n",
        "z",
        "is_burst",
    )
    heavy = cms_heavy_hitters(
        _events(spark, sf_dir), "user_id", threshold=CMS_HEAVY_THRESHOLD,
        depth=CMS_DEPTH, width=CMS_WIDTH, seed="cms",
    ).select(
        F.lit("heavy").alias("kind"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("source"),
        F.col("exact").alias("lines_processed"),
        F.lit(None).cast("bigint").alias("lines_with_dt"),
        F.lit(None).cast("bigint").alias("lines_dropped"),
        F.lit(None).cast("bigint").alias("syslines"),
        F.lit(None).cast("timestamp").alias("bucket_ts"),
        F.col("cms_est").alias("n"),
        F.lit(None).cast("double").alias("mean_n"),
        F.lit(None).cast("double").alias("z"),
        F.lit(None).cast("boolean").alias("is_burst"),
    )
    # r5 absorption: explicit-register HyperLogLog distinct event-ids
    # per family (``kind='hll'``) — registers, the exact-integer
    # harmonic sum S (-> ``n``), empty-register count V (->
    # ``lines_with_dt``) and the bit-exact raw estimate (-> ``mean_n``)
    # all recomputed by the oracle from the same md5 register math;
    # ``lines_processed`` carries the exact distinct count alongside.
    from .operators.sketch import hll_profile

    evs = _events(spark, sf_dir).select(
        F.concat(F.lit("ev"), (F.col("user_id") % 8).cast("string")).alias("source"),
        "event_id",
    )
    hll = (
        hll_profile(evs, "event_id", group_cols=("source",))
        .join(evs.groupBy("source").agg(F.count_distinct("event_id").alias("_exact")), "source")
        .select(
            F.lit("hll").alias("kind"),
            "source",
            F.col("_exact").cast("bigint").alias("lines_processed"),
            F.col("hll_v").alias("lines_with_dt"),
            F.lit(None).cast("bigint").alias("lines_dropped"),
            F.lit(None).cast("bigint").alias("syslines"),
            F.lit(None).cast("timestamp").alias("bucket_ts"),
            F.col("hll_s").alias("n"),
            F.col("hll_est").alias("mean_n"),
            F.lit(None).cast("double").alias("z"),
            F.lit(None).cast("boolean").alias("is_burst"),
        )
    )
    # r5 absorption: snapshot drift (``kind='drift'``) — total-variation
    # distance of each family's event_type mix between two synthetic
    # snapshots (event_id parity); the integer numerator and the one-
    # division tv are engine-exact (operators/summary.py docstring).
    from .operators.summary import distribution_drift

    ev2 = _events(spark, sf_dir).select(
        F.concat(F.lit("ev"), (F.col("user_id") % 8).cast("string")).alias("source"),
        "event_type",
        (F.col("event_id") % 2).alias("_half"),
    )
    drift = distribution_drift(
        ev2.filter(F.col("_half") == 0), ev2.filter(F.col("_half") == 1), "event_type"
    ).select(
        F.lit("drift").alias("kind"),
        "source",
        F.col("n_a").alias("lines_processed"),
        F.col("n_b").alias("lines_with_dt"),
        F.lit(None).cast("bigint").alias("lines_dropped"),
        F.lit(None).cast("bigint").alias("syslines"),
        F.lit(None).cast("timestamp").alias("bucket_ts"),
        F.col("tv_num").alias("n"),
        F.col("tv").alias("mean_n"),
        F.lit(None).cast("double").alias("z"),
        F.lit(None).cast("boolean").alias("is_burst"),
    )
    # r5 absorption: trailing rolling-window volume (``kind='rolling'``,
    # 6-hour trailing frame over the hourly histogram) — exact integer
    # roll_sum (-> ``lines_processed``) and present-bucket count (->
    # ``lines_with_dt``), one-division roll_mean (-> ``mean_n``); the
    # oracle restates the RANGE frame over epoch seconds, so sparse-gap
    # handling (absent buckets narrow the frame) is under the hash gate.
    from .operators.summary import rolling_rates

    rolling = rolling_rates(msgs, bucket="hour", window_buckets=6).select(
        F.lit("rolling").alias("kind"),
        "source",
        F.col("roll_sum").alias("lines_processed"),
        F.col("roll_buckets").alias("lines_with_dt"),
        F.lit(None).cast("bigint").alias("lines_dropped"),
        F.lit(None).cast("bigint").alias("syslines"),
        "bucket_ts",
        "n",
        F.col("roll_mean").alias("mean_n"),
        F.lit(None).cast("double").alias("z"),
        F.lit(None).cast("boolean").alias("is_burst"),
    )
    return (
        summ.unionByName(rate)
        .unionByName(heavy)
        .unionByName(hll)
        .unionByName(drift)
        .unionByName(rolling)
    )


# Count-Min heavy-hitter constants shared by the Spark leg and its SQL
# twin (threshold 75 sits just above the ~67 events/user mean at every
# SF — the corpus's per-user rate is SF-invariant)
CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_HEAVY_THRESHOLD = 75

# the one float constant of the HLL face — repr() roundtrips, and
# decimal->double parsing is correctly rounded in both engines, so the
# SQL literal and F.lit() are the same double bit-for-bit
from .operators.sketch import hll_alpha_num as _hll_alpha_num  # noqa: E402

_HLL_ALPHA = _hll_alpha_num()

SQL_PIPE_SUMMARY_ROLLUP = f"""
WITH per AS (
  SELECT 'ev' || (user_id % 8) AS source,
         CASE WHEN event_type = 'error' THEN 3 ELSE 1 END AS nl
  FROM events
),
hist AS (
  SELECT 'ev' || (user_id % 8) AS source, date_trunc('hour', ts) AS bucket_ts,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
mom AS (SELECT source, sum(n) AS s1, sum(n * n) AS s2, count(*) AS c FROM hist GROUP BY 1)
SELECT 'summary' AS kind, source,
       CAST(sum(nl) AS BIGINT) AS lines_processed, count(*) AS lines_with_dt,
       CAST(0 AS BIGINT) AS lines_dropped, count(*) AS syslines,
       CAST(NULL AS TIMESTAMP) AS bucket_ts, CAST(NULL AS BIGINT) AS n,
       CAST(NULL AS DOUBLE) AS mean_n, CAST(NULL AS DOUBLE) AS z,
       CAST(NULL AS BOOLEAN) AS is_burst
FROM per GROUP BY ROLLUP (source)
UNION ALL
SELECT 'rate' AS kind, hist.source,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT),
       hist.bucket_ts, hist.n,
       round(mom.s1 / mom.c, 4) AS mean_n,
       CASE WHEN sqrt(greatest(mom.s2 / mom.c - (mom.s1 / mom.c) * (mom.s1 / mom.c), 0.0)) > 0
            THEN round((hist.n - mom.s1 / mom.c)
                       / sqrt(greatest(mom.s2 / mom.c - (mom.s1 / mom.c) * (mom.s1 / mom.c), 0.0)), 4)
       END AS z,
       CASE WHEN sqrt(greatest(mom.s2 / mom.c - (mom.s1 / mom.c) * (mom.s1 / mom.c), 0.0)) > 0
            THEN abs(hist.n - mom.s1 / mom.c)
                 > 2.0 * sqrt(greatest(mom.s2 / mom.c - (mom.s1 / mom.c) * (mom.s1 / mom.c), 0.0))
            ELSE FALSE END AS is_burst
FROM hist JOIN mom USING (source)
UNION ALL
SELECT 'heavy' AS kind, 'u' || CAST(u.user_id AS VARCHAR) AS source,
       u.exact AS lines_processed,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS TIMESTAMP), min(c.n) AS n,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS exact FROM events GROUP BY 1) u,
     unnest(generate_series(0, {CMS_DEPTH} - 1)) AS g(r)
JOIN (
  -- the same d×w Count-Min cells the engine builds: md5 probe per
  -- (sketch row, key), counts collapsed per cell
  SELECT g2.r AS r,
         CAST('0x' || substr(md5('cms:' || CAST(g2.r AS VARCHAR) || ':'
                                 || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
           % {CMS_WIDTH} AS c,
         CAST(count(*) AS BIGINT) AS n
  FROM events, unnest(generate_series(0, {CMS_DEPTH} - 1)) AS g2(r)
  GROUP BY 1, 2
) c ON c.r = g.r
   AND c.c = CAST('0x' || substr(md5('cms:' || CAST(g.r AS VARCHAR) || ':'
                                     || CAST(u.user_id AS VARCHAR)), 1, 8) AS BIGINT)
             % {CMS_WIDTH}
GROUP BY 1, 2, 3
HAVING min(c.n) >= {CMS_HEAVY_THRESHOLD}
UNION ALL
SELECT 'hll' AS kind, hx.source,
       hx.n_exact AS lines_processed,
       ha.hll_v AS lines_with_dt,
       CAST(NULL AS BIGINT) AS lines_dropped, CAST(NULL AS BIGINT) AS syslines,
       CAST(NULL AS TIMESTAMP) AS bucket_ts,
       ha.hll_s AS n,
       {_HLL_ALPHA!r} / CAST(ha.hll_s AS DOUBLE) AS mean_n,
       CAST(NULL AS DOUBLE) AS z, CAST(NULL AS BOOLEAN) AS is_burst
FROM (
  SELECT source,
         CAST(sum(CAST(1 AS BIGINT) << (40 - M))
              + (512 - count(*)) * (CAST(1 AS BIGINT) << 40) AS BIGINT) AS hll_s,
         CAST(512 - count(*) AS BIGINT) AS hll_v
  FROM (
    SELECT source, reg, max(rho) AS M FROM (
      SELECT 'ev' || (user_id % 8) AS source,
             CAST(h % 512 AS INT) AS reg,
             CASE WHEN (h // 512) = 0 THEN 24
                  ELSE 23 - (length(bin(h // 512)) - 1) END AS rho
      FROM (SELECT user_id,
                   CAST('0x' || substr(md5('hll:' || CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
            FROM events)
    ) GROUP BY source, reg
  ) GROUP BY source
) ha
JOIN (
  SELECT 'ev' || (user_id % 8) AS source,
         CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
) hx USING (source)
UNION ALL
SELECT 'drift' AS kind, source,
       n_a AS lines_processed, n_b AS lines_with_dt,
       CAST(NULL AS BIGINT) AS lines_dropped, CAST(NULL AS BIGINT) AS syslines,
       CAST(NULL AS TIMESTAMP) AS bucket_ts,
       tv_num AS n,
       CAST(tv_num AS DOUBLE) / CAST(2 * n_a * n_b AS DOUBLE) AS mean_n,
       CAST(NULL AS DOUBLE) AS z, CAST(NULL AS BOOLEAN) AS is_burst
FROM (
  SELECT source,
         max(n_a) AS n_a, max(n_b) AS n_b,
         CAST(sum(abs(c_a * n_b - c_b * n_a)) AS BIGINT) AS tv_num
  FROM (
    SELECT source, event_type,
           CAST(count(*) FILTER (event_id % 2 = 0) AS BIGINT) AS c_a,
           CAST(count(*) FILTER (event_id % 2 = 1) AS BIGINT) AS c_b,
           CAST(sum(count(*) FILTER (event_id % 2 = 0)) OVER (PARTITION BY source) AS BIGINT) AS n_a,
           CAST(sum(count(*) FILTER (event_id % 2 = 1)) OVER (PARTITION BY source) AS BIGINT) AS n_b
    FROM (SELECT 'ev' || (user_id % 8) AS source, event_type, event_id FROM events)
    GROUP BY source, event_type
  ) GROUP BY source
)
UNION ALL
-- rolling: 6-hour trailing RANGE frame over the hourly histogram;
-- absent (silent) buckets are absent rows, so they narrow the
-- present-bucket count instead of contributing zeros
SELECT 'rolling' AS kind, source,
       roll_sum AS lines_processed, roll_cnt AS lines_with_dt,
       CAST(NULL AS BIGINT) AS lines_dropped, CAST(NULL AS BIGINT) AS syslines,
       bucket_ts, n,
       CAST(roll_sum AS DOUBLE) / roll_cnt AS mean_n,
       CAST(NULL AS DOUBLE) AS z, CAST(NULL AS BOOLEAN) AS is_burst
FROM (
  SELECT source, bucket_ts, n,
         CAST(sum(n) OVER w AS BIGINT) AS roll_sum,
         CAST(count(n) OVER w AS BIGINT) AS roll_cnt
  FROM hist
  WINDOW w AS (PARTITION BY source ORDER BY epoch(bucket_ts)
               RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW)
)
"""


def q_pipe_pattern_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DTPD hit counts (north_star 'parse hit/miss rates per
    pattern') UNIONED with Drain-style template mining over the same
    parsed messages (r4.5 absorption; rows tagged by ``kind``) — the
    message-SHAPE histogram one level above the datetime-FORMAT
    histogram."""
    from .operators.templates import mine_templates

    _utc(spark)
    docs = rendered_docs(spark, sf_dir)
    # both union branches consume the fused Python parse — persist it
    # (the q_pipe_summary_rollup dual-consumer idiom)
    msgs = _persist(parse_messages_fused(docs, reference_year=REFERENCE_YEAR))
    dtpd = (
        doc_pattern_hit_miss(docs, msgs)
        .select(
            F.lit("dtpd").alias("kind"),
            "source",
            F.col("pattern_id").cast("int").alias("pattern_id"),
            F.lit(None).cast("string").alias("template"),
            F.col("n").cast("bigint").alias("n"),
            F.lit(None).cast("bigint").alias("n_params"),
            F.lit(None).cast("double").alias("share"),
        )
    )
    tmpl = mine_templates(msgs, group_cols=("source",), text_col="text").select(
        F.lit("template").alias("kind"),
        "source",
        F.lit(None).cast("int").alias("pattern_id"),
        "template",
        "n",
        "n_params",
        "share",
    )
    return dtpd.unionByName(tmpl)


_PAT_CASE = " ".join(f"WHEN {fam} THEN {pid}" for fam, pid in FAMILY_PATTERN_ID.items())


def _sql_template_expr(col: str) -> str:
    """DuckDB mirror of operators/templates.template_col, generated from
    the operator's own mask constants so the engines cannot drift."""
    from .operators.templates import TEMPLATE_MASKS

    t = col
    for pat, rep in TEMPLATE_MASKS:
        t = f"regexp_replace({t}, '{pat}', '{rep}', 'g')"
    return t


# {LINE} / {TMPL} resolve below, after _SQL_LINE_EXPR is defined
_SQL_PIPE_PATTERN_HITS_TEMPLATE = f"""
WITH lines AS (
  SELECT 'ev' || (user_id % 8) AS source, ({{LINE}}) AS line
  FROM events
),
tmpl AS (
  SELECT source, {{TMPL}} AS template, CAST(count(*) AS BIGINT) AS n
  FROM lines GROUP BY 1, 2
),
tot AS (SELECT source, sum(n) AS tot FROM tmpl GROUP BY 1)
SELECT 'dtpd' AS kind, 'ev' || (user_id % 8) AS source,
       CAST(CASE user_id % 8 {_PAT_CASE} END AS INT) AS pattern_id,
       CAST(NULL AS VARCHAR) AS template,
       CAST(count(*) AS BIGINT) AS n,
       CAST(NULL AS BIGINT) AS n_params,
       CAST(NULL AS DOUBLE) AS share
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'template' AS kind, tmpl.source, CAST(NULL AS INT) AS pattern_id,
       tmpl.template, tmpl.n,
       CAST(len(regexp_extract_all(tmpl.template, '<(IP|HEX|NUM)>', 0)) AS BIGINT)
         AS n_params,
       round(tmpl.n * 1.0 / tot.tot, 4) AS share
FROM tmpl JOIN tot USING (source)
"""


def q_pipe_year_rollover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3164 year inference across a Dec→Jan boundary: render no-year
    lines at synthetic times straddling midnight 2023→2024; the 25-hour
    jump rule must assign Dec lines to 2023 (reference
    syslogprocessor.rs:604-712)."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    x = (F.col("event_id") % 1000).cast("long")
    ts2 = F.lit(datetime(2023, 12, 31, 23, 50, 0, tzinfo=timezone.utc)) + F.make_dt_interval(secs=x)
    day_sp = F.lpad(F.date_format(ts2, "d"), 2, " ")
    line = F.concat(
        F.lit("<6>"), F.date_format(ts2, "MMM"), F.lit(" "), day_sp, F.lit(" "),
        F.date_format(ts2, "HH:mm:ss"), F.lit(" host kernel: boot eid="), F.col("event_id"),
    )
    docs = (
        ev.select(F.col("user_id"), F.col("event_id"), x.alias("x"), line.alias("text"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct("x", "event_id", "text"))).alias("ls"))
        .select(
            F.concat(F.lit("u"), F.lpad(F.col("user_id").cast("string"), 8, "0")).alias("doc_id"),
            F.lit("rollover").alias("source"),
            F.concat_ws("\n", F.transform("ls", lambda s: s["text"])).alias("text"),
        )
        .withColumn("tokens", encode_text_udf("text"))
        .select("doc_id", "tokens", F.size("tokens").alias("n_tok"), "source")
    )
    msgs = parse_messages_fused(docs, reference_year=2024)
    return _with_event_id(msgs).select("event_id", "ts")


# Per-doc observability rule: a doc that never crosses midnight shows no
# >25h jump, so (like the reference seeding from mtime) ALL its lines keep
# the reference year 2024; docs that do cross get Dec→2023, Jan→2024.
SQL_PIPE_YEAR_ROLLOVER = """
WITH x AS (
  SELECT event_id, event_id % 1000 AS x,
         max(event_id % 1000) OVER (PARTITION BY user_id) AS doc_max_x
  FROM events
)
SELECT event_id,
       CASE WHEN x >= 600
            THEN TIMESTAMP '2024-01-01 00:00:00' + (x - 600) * INTERVAL 1 SECOND
            WHEN doc_max_x >= 600
            THEN TIMESTAMP '2023-12-31 23:50:00' + x * INTERVAL 1 SECOND
            ELSE TIMESTAMP '2024-12-31 23:50:00' + x * INTERVAL 1 SECOND
       END AS ts
FROM x
"""


def q_pipe_output_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1-O4 output projection: prepended normalized datetime + aligned
    source name + separator, applied per line (reference PrinterLogMessage,
    printers.rs:143; prepend fmt s4.rs:454). Family-0 slice so the oracle
    can rebuild the exact printed line in SQL."""
    from .operators.grok import grok_parse
    from .operators.output import output_line
    from .operators.syslog_rfc import parse_rfc5424, sd_params

    _utc(spark)
    all_msgs = _persist(parsed_messages(spark, sf_dir))
    msgs = all_msgs.filter(F.col("source") == "ev0")
    out = output_line(msgs, prepend_dt=True, prepend_name="source", separator="|")
    nulls = [
        F.lit(None).cast("string").alias(c)
        for c in ("clientip", "g_ts", "request", "response", "bytes")
    ]
    rfc_nulls = [
        F.lit(None).cast("string").alias(c)
        for c in ("facility", "severity", "hostname", "appname")
    ]
    printed = _with_event_id(out).select(
        F.lit("printed").alias("kind"), "event_id", "out_line", *nulls, *rfc_nulls
    )
    # r4.5 absorption: grok named-field extraction (the north rule's
    # "grok/regex parse" by name) over the apache-CLF family; the
    # oracle states every field from first principles (events columns),
    # not by re-running the regex
    g = grok_parse(
        all_msgs.filter(F.col("source") == "ev2"),
        "%{COMMONAPACHELOG} eid=%{INT:eid}",
    )
    grok_rows = _with_event_id(g).select(
        F.lit("grok").alias("kind"),
        "event_id",
        F.lit(None).cast("string").alias("out_line"),
        "clientip",
        F.col("timestamp").alias("g_ts"),
        "request",
        "response",
        "bytes",
        *rfc_nulls,
    )
    # r5 absorption: RFC 5424 protocol parse + <PRI> decode
    # (operators/syslog_rfc.py). The ev5 slice renders full 5424 lines
    # with pri = event_id % 192 (every facility×severity combo at sf
    # ≥0.01 — LOG_MAXPRI sweep, reference datetime.rs:2689), a
    # structured-data element carrying the client ip, and the eid in
    # MSG; the oracle restates every field from events columns by
    # integer math, so header split, SD param extraction, PRI tables,
    # and the timestamp roundtrip all sit under the value hash.
    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    pri = (eid % 192).cast("int")
    line5424 = F.concat(
        F.lit("<"), pri, F.lit(">1 "),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("Z "),
        F.lit("host"), (F.col("user_id") % 4).cast("int"), F.lit(" "),
        F.lit("app"), (F.col("user_id") % 3).cast("int"), F.lit(" "),
        eid, F.lit(" ID"), (eid % 100).cast("int"),
        F.lit(' [ex@32473 ip="10.0.'), (F.floor(eid / 256) % 256).cast("int"),
        F.lit("."), (eid % 256).cast("int"),
        F.lit('" iut="'), (eid % 10).cast("int"), F.lit('"] '),
        F.col("event_type"), F.lit(" eid="), eid,
    )
    p = parse_rfc5424(ev.filter(F.col("user_id") % 8 == 5).select(line5424.alias("text")))
    rfc_rows = p.select(
        F.lit("rfc5424").alias("kind"),
        F.regexp_extract("msg", r"eid=(\d+)", 1).cast("long").alias("event_id"),
        F.lit(None).cast("string").alias("out_line"),
        F.element_at(sd_params(F.col("sd")), "ip").alias("clientip"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("g_ts"),
        F.lit(None).cast("string").alias("request"),
        F.lit(None).cast("string").alias("response"),
        F.lit(None).cast("string").alias("bytes"),
        "facility",
        "severity",
        "hostname",
        F.col("app_name").alias("appname"),
    )
    return printed.unionByName(grok_rows).unionByName(rfc_rows)


SQL_PIPE_OUTPUT_PROJECT = """
SELECT 'printed' AS kind, event_id,
       strftime(ts, '%Y%m%dT%H%M%S') || '.' || substr(strftime(ts, '%f'), 1, 3) || '+0000'
       || '|' || 'ev0' || '|'
       || strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z host app[' || event_id || ']: '
       || event_type || ' eid=' || event_id AS out_line,
       CAST(NULL AS VARCHAR) AS clientip, CAST(NULL AS VARCHAR) AS g_ts,
       CAST(NULL AS VARCHAR) AS request, CAST(NULL AS VARCHAR) AS response,
       CAST(NULL AS VARCHAR) AS bytes,
       CAST(NULL AS VARCHAR) AS facility, CAST(NULL AS VARCHAR) AS severity,
       CAST(NULL AS VARCHAR) AS hostname, CAST(NULL AS VARCHAR) AS appname
FROM events WHERE user_id % 8 = 0
UNION ALL
SELECT 'grok' AS kind, event_id, CAST(NULL AS VARCHAR) AS out_line,
       '192.168.0.1' AS clientip,
       strftime(ts, '%d/%b/%Y:%H:%M:%S') || ' +0000' AS g_ts,
       '/p' || event_id AS request, '200' AS response, '17' AS bytes,
       CAST(NULL AS VARCHAR) AS facility, CAST(NULL AS VARCHAR) AS severity,
       CAST(NULL AS VARCHAR) AS hostname, CAST(NULL AS VARCHAR) AS appname
FROM events WHERE user_id % 8 = 2
UNION ALL
SELECT 'rfc5424' AS kind, event_id, CAST(NULL AS VARCHAR) AS out_line,
       '10.0.' || CAST((event_id // 256) % 256 AS VARCHAR) || '.'
               || CAST(event_id % 256 AS VARCHAR) AS clientip,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS g_ts,
       CAST(NULL AS VARCHAR) AS request, CAST(NULL AS VARCHAR) AS response,
       CAST(NULL AS VARCHAR) AS bytes,
       (['kern','user','mail','daemon','auth','syslog','lpr','news',
         'uucp','cron','authpriv','ftp','ntp','audit','alert','clock',
         'local0','local1','local2','local3','local4','local5','local6',
         'local7'])[CAST((event_id % 192) // 8 AS INT) + 1] AS facility,
       (['emerg','alert','crit','err','warning','notice','info','debug'
         ])[CAST(event_id % 8 AS INT) + 1] AS severity,
       'host' || CAST(user_id % 4 AS VARCHAR) AS hostname,
       'app' || CAST(user_id % 3 AS VARCHAR) AS appname
FROM events WHERE user_id % 8 = 5
"""


# SQL mirror of _line_expr(): the exact rendered line per family, used to
# verify TOKEN-ARRAY EQUALITY (the north_rule's per-row invariant) from
# first principles — the oracle re-renders each event's line and
# checksums its codepoints, so any token corruption anywhere in the
# docs→split→parse→sessionize path breaks the hash.
_SQL_LINE_EXPR = """
CASE user_id % 8
  WHEN 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z host app[' || event_id || ']: ' || event_type
  WHEN 1 THEN '[' || strftime(ts, '%Y/%m/%d %H:%M:%S.%f') || '] oplock.c:1340 ' || event_type
  WHEN 2 THEN '192.168.0.1 - - [' || strftime(ts, '%d/%b/%Y:%H:%M:%S') || ' +0000] "GET /p' || event_id || '" 200 17'
  WHEN 3 THEN '<14>' || strftime(ts, '%b') || ' ' || lpad(CAST(day(ts) AS VARCHAR), 2, ' ') || ' ' || strftime(ts, '%H:%M:%S') || ' host sshd[' || event_id || ']: ' || event_type
  WHEN 4 THEN CAST(CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS VARCHAR) || '.' || strftime(ts, '%f') || ' read(3, ..., 1024) = 17'
  WHEN 5 THEN strftime(ts, '%m/%d/%y %H:%M:%S') || ': infinst: ' || event_type
  WHEN 6 THEN 'info' || chr(9) || strftime(ts, '%Y/%m/%d %H:%M:%S') || chr(9) || 'SYSTEM:' || chr(9) || event_type
  ELSE strftime(ts, '%a, ') || CAST(day(ts) AS VARCHAR) || strftime(ts, ' %b %Y %H:%M:%S') || ' +0000 ' || event_type
END || ' eid=' || event_id
"""

SQL_PIPE_PATTERN_HITS = _SQL_PIPE_PATTERN_HITS_TEMPLATE.replace(
    "{LINE}", _SQL_LINE_EXPR
).replace("{TMPL}", _sql_template_expr("line"))


# twin of the consolidated q_pipe_parse_recover (timestamp roundtrip +
# token-array equality in one query)
SQL_PIPE_PARSE_RECOVER = f"""
WITH lines AS (
  SELECT event_id, ({ORACLE_TRUNC_TS}) AS ts, ({_SQL_LINE_EXPR}) AS line FROM events
)
SELECT event_id, ts,
  CAST(length(line) AS BIGINT) AS n_tok,
  CAST(list_sum(list_transform(generate_series(1, length(line)), i -> unicode(substr(line, i, 1)))) AS BIGINT) AS tok_sum,
  CAST(list_sum(list_transform(generate_series(1, length(line)), i -> i * unicode(substr(line, i, 1)))) AS BIGINT) AS tok_wsum
FROM lines
"""


def q_pipe_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rejects channel: docs with no parseable datetime anywhere land in
    the rejects table as no_syslines_found (reference
    FileErrNoSyslinesFound, syslogprocessor.rs:911). Every 10th event is
    rendered datetime-less."""
    from .operators.rejects import doc_rejects

    _utc(spark)
    ev = _events(spark, sf_dir)
    line = F.when(
        F.col("event_id") % 10 == 0,
        F.concat(F.lit("plain message without any date marker eid="), F.col("event_id")),
    ).otherwise(_line_expr())
    docs = (
        ev.select(_doc_id_expr().alias("doc_id"), _source_expr().alias("source"), line.alias("text"))
        .withColumn("tokens", encode_text_udf("text"))
        .select("doc_id", "tokens", F.size("tokens").alias("n_tok"), "source")
    )
    msgs = parse_messages_fused(docs, reference_year=REFERENCE_YEAR)
    rej = doc_rejects(msgs, docs)
    return rej.select(
        F.substring("doc_id", 2, 12).cast("bigint").alias("event_id"),
        "error_kind",
        "source",
    )


SQL_PIPE_REJECTS = """
SELECT event_id, 'no_syslines_found' AS error_kind, 'ev' || (user_id % 8) AS source
FROM events WHERE event_id % 10 = 0
"""


def q_pipe_tz_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TZ normalization roundtrip: events rendered across numeric
    utc-offsets AND named-tz forms; parse must resolve each back to the
    same UTC instant (reference normalizes every message to a fixed
    offset, datetime.rs:132; tz capture groups :1880-1902; named map
    MAP_TZZ_TO_TZz :1984-2503).

    By event_id % 8: 0-3 → numeric ±HH00; 4 → ``PST`` (fixed −08:00);
    5 → ``CET`` (+01:00); 6 → ``jst`` (lower-case, must resolve
    case-insensitively to +09:00); 7 → ``IST`` (AMBIGUOUS — the in-line
    parse must fall back to the job default offset, here UTC, per
    datetime.rs:6165-6177). The oracle is the identity on ``ts``: any
    mis-resolution (wrong offset, failed case-fold, ambiguous not
    falling back) shifts the parsed instant by whole hours and
    hash-mismatches."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    b = F.col("event_id") % 8
    off = (
        F.when(b <= 3, b - 2)
        .when(b == 4, F.lit(-8))
        .when(b == 5, F.lit(1))
        .when(b == 6, F.lit(9))
        .otherwise(F.lit(0))
    )
    local_ts = F.col("ts") + F.make_dt_interval(hours=off)
    numeric_tz = F.concat(
        F.when(off < 0, F.lit("-")).otherwise(F.lit("+")),
        F.lpad(F.abs(off).cast("string"), 2, "0"),
        F.lit("00"),
    )
    tzs = (
        F.when(b <= 3, numeric_tz)
        .when(b == 4, F.lit(" PST"))
        .when(b == 5, F.lit(" CET"))
        .when(b == 6, F.lit(" jst"))
        .otherwise(F.lit(" IST"))
    )
    line = F.concat(
        F.date_format(local_ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), tzs,
        F.lit(" host app: "), F.col("event_type"), F.lit(" eid="), F.col("event_id"),
    )
    docs = (
        ev.select(_doc_id_expr().alias("doc_id"), _source_expr().alias("source"), line.alias("text"))
        .withColumn("tokens", encode_text_udf("text"))
        .select("doc_id", "tokens", F.size("tokens").alias("n_tok"), "source")
    )
    msgs = parse_messages_fused(docs, reference_year=REFERENCE_YEAR)
    return _with_event_id(msgs).select("event_id", "ts")


SQL_PIPE_TZ_NORMALIZE = """
SELECT event_id, ts FROM events
"""


def q_stream_enrich_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING face of the pipeline: readStream over the tokenized
    corpus → foreachBatch(parse→enrich→route append) with checkpointed
    batches → per-sink counts from the committed sink, PLUS the asof and
    cidr enrichment legs computed over the committed sink's own rows
    (r5: the r4 regression happened because this face fell behind the
    widened batch twin — now both faces emit the identical
    static∪asof∪cidr∪interval shape and share ONE oracle, and the
    in-suite parity test holds them together). Expected output is
    identical to the batch path (pipe_enrich_sinks): the per-batch work
    IS the batch pipeline, and the analytics legs read what the stream
    committed."""
    import shutil
    import tempfile

    from .operators.enrich import asof_enrich, cidr_enrich, interval_enrich, severity_class_col
    from .operators.route import sink_counts_from_path
    from .sources.iceberg import read_table
    from .streaming.pipeline import await_or_raise, stream_pipeline

    _utc(spark)
    work = tempfile.mkdtemp(prefix="s4spark_stream_q_")
    try:
        docs_dir, out_dir, ckpt = f"{work}/docs", f"{work}/out", f"{work}/ckpt"
        rendered_docs(spark, sf_dir).repartition(8).write.mode("overwrite").parquet(docs_dir)
        q = stream_pipeline(
            spark, docs_dir, out_dir, ckpt, enrichment_df(spark),
            reference_year=REFERENCE_YEAR,
        )
        await_or_raise(q, 600)
        agg = [
            F.count("*").alias("messages"),
            F.count("*").alias("lines"),
            F.min("ts").alias("dt_first"),
            F.max("ts").alias("dt_last"),
        ]

        def leg(kind: str, df: DataFrame) -> DataFrame:
            return df.groupBy("sink_key").agg(*agg).select(
                F.lit(kind).alias("kind"), "sink_key",
                "messages", "lines", "dt_first", "dt_last",
            )

        static = sink_counts_from_path(spark, out_dir).select(
            F.lit("static").alias("kind"),
            "sink_key", "messages", "lines", "dt_first", "dt_last",
        )
        committed = read_table(spark, out_dir).select("source", "ts", "text")
        asof = leg(
            "asof",
            asof_enrich(committed, asof_dim_history(spark)).withColumn(
                "sink_key",
                F.concat_ws(".", F.col("facility"), severity_class_col(F.col("severity"))),
            ),
        )
        eid = F.col("event_id")
        with_ip = _with_event_id(committed).withColumn(
            "ip",
            F.when(eid % 5 == 0, F.lit("172.16.0.1")).otherwise(
                F.concat_ws(
                    ".", F.lit("10"), (eid % 3).cast("string"),
                    (eid % 7).cast("string"), (eid % 251).cast("string"),
                )
            ),
        )
        cidr = leg(
            "cidr",
            cidr_enrich(with_ip, _cidr_dim(spark), ip_col="ip").withColumn(
                "sink_key", F.coalesce(F.col("net_sink"), F.lit("unmatched"))
            ),
        )
        interval = leg(
            "interval",
            interval_enrich(committed, _interval_dim(spark)).withColumn(
                "sink_key", F.coalesce(F.col("label"), F.lit("unmatched"))
            ),
        )
        counts = static.unionByName(asof).unionByName(cidr).unionByName(interval)
        # materialize before the temp dir disappears
        rows = counts.collect()
        return spark.createDataFrame(rows, counts.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


FUNNEL_STEPS = ("view", "click", "purchase")


def q_events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic gap-based sessionization over the raw events stream (30-min
    inactivity gap per user) — the window-function face of P2 — UNIONED
    with the per-user event-type transition matrix over the same stream
    (r4.5 absorption), the ordered-step funnel (view→click→purchase;
    strictly-after semantics, ties broken on event_id) and day-grain
    cohort retention (r5 absorptions; rows tagged by ``kind``). The
    funnel/retention oracles re-derive both from first principles:
    chained earliest-after CTEs for the funnel, distinct-active-day
    joins for retention — never the engine's array algebra."""
    from pyspark.sql.window import Window

    from .operators.funnel import cohort_retention, funnel_conversion
    from .operators.sessionize import event_transitions

    _utc(spark)
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond precision on BOTH sides (oracle uses epoch_us) so the
    # gap>30min boundary decision cannot flip on sub-second timestamps
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    newsess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("sess_no", F.sum(newsess).over(w))
    sessions = (
        sess.groupBy("user_id", "sess_no")
        .agg(F.count("*").alias("n_events"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.max("n_events").alias("max_session_events"))
        .select(
            F.lit("sessions").alias("kind"),
            "user_id",
            "n_sessions",
            "max_session_events",
            F.lit(None).cast("string").alias("prev_type"),
            F.lit(None).cast("string").alias("next_type"),
            F.lit(None).cast("bigint").alias("n"),
            F.lit(None).cast("double").alias("share"),
        )
    )
    trans = event_transitions(ev).select(
        F.lit("transitions").alias("kind"),
        F.lit(None).cast("bigint").alias("user_id"),
        F.lit(None).cast("bigint").alias("n_sessions"),
        F.lit(None).cast("bigint").alias("max_session_events"),
        "prev_type",
        "next_type",
        "n",
        "share",
    )
    pad = dict(
        user_id=F.lit(None).cast("bigint"),
        n_sessions=F.lit(None).cast("bigint"),
        max_session_events=F.lit(None).cast("bigint"),
        prev_type=F.lit(None).cast("string"),
        next_type=F.lit(None).cast("string"),
    )
    # deterministic 1/11 thinning: at these SFs every user completes the
    # funnel over the full stream (all shares 1.0) — the thinned stream
    # makes the strictly-after rule actually discriminate under the gate
    funnel = funnel_conversion(ev.filter(F.col("event_id") % 11 == 0), FUNNEL_STEPS).select(
        F.lit("funnel").alias("kind"),
        *[c.alias(k) for k, c in pad.items()],
        F.col("users").alias("n"),
        "share",
        "step",
        "idx",
    )
    ret = cohort_retention(ev).select(
        F.lit("retention").alias("kind"),
        *[c.alias(k) for k, c in pad.items()],
        F.col("active_users").alias("n"),
        "share",
        F.col("cohort_day").alias("step"),
        F.col("offset_days").alias("idx"),
    )
    base = sessions.unionByName(trans).select(
        "*",
        F.lit(None).cast("string").alias("step"),
        F.lit(None).cast("bigint").alias("idx"),
    )
    return base.unionByName(funnel).unionByName(ret)


SQL_EVENTS_SESSIONIZE_GAP = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 * 1000000
              THEN 1 ELSE 0 END AS ns
  FROM events
), s AS (
  SELECT user_id,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
  FROM g
), c AS (
  SELECT user_id, sess_no, count(*) AS n_events FROM s GROUP BY user_id, sess_no
), tr AS (
  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  '<START>') AS prev_type,
         event_type AS next_type
  FROM events
), tc AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2
), tt AS (SELECT prev_type, sum(n) AS tot FROM tc GROUP BY 1),
-- funnel: earliest step event strictly after the previous step's pick,
-- ties on ts broken by event_id ((ts, event_id) row comparison);
-- deterministic 1/11 thinning so conversion discriminates at gate SFs
fe AS (SELECT * FROM events WHERE event_id % 11 = 0),
f0 AS (
  SELECT user_id, ts, event_id FROM fe WHERE event_type = 'view'
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
), f1 AS (
  SELECT e.user_id, e.ts, e.event_id FROM fe e JOIN f0 USING (user_id)
  WHERE e.event_type = 'click' AND (e.ts, e.event_id) > (f0.ts, f0.event_id)
  QUALIFY row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) = 1
), f2 AS (
  SELECT e.user_id, e.ts, e.event_id FROM fe e JOIN f1 USING (user_id)
  WHERE e.event_type = 'purchase' AND (e.ts, e.event_id) > (f1.ts, f1.event_id)
  QUALIFY row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) = 1
), fc AS (
  SELECT CAST(1 AS BIGINT) AS idx, 'view' AS step, (SELECT CAST(count(*) AS BIGINT) FROM f0) AS users
  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM f1)
  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM f2)
), fr AS (
  SELECT idx, step, users,
         coalesce(lag(users) OVER (ORDER BY idx),
                  (SELECT count(DISTINCT user_id) FROM fe)) AS prev
  FROM fc
),
-- retention: cohort = first active day; active-day set per user
pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1),
ad AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
rr AS (
  SELECT cohort, date_diff('day', cohort, day) AS off, CAST(count(*) AS BIGINT) AS n
  FROM ad JOIN pu USING (user_id) GROUP BY 1, 2
), cz AS (SELECT cohort, n AS size FROM rr WHERE off = 0)
SELECT 'sessions' AS kind, user_id, count(*) AS n_sessions,
       max(n_events) AS max_session_events,
       CAST(NULL AS VARCHAR) AS prev_type, CAST(NULL AS VARCHAR) AS next_type,
       CAST(NULL AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS share,
       CAST(NULL AS VARCHAR) AS step, CAST(NULL AS BIGINT) AS idx
FROM c GROUP BY user_id
UNION ALL
SELECT 'transitions' AS kind, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT),
       tc.prev_type, tc.next_type, tc.n, round(tc.n / tt.tot, 4) AS share,
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
FROM tc JOIN tt USING (prev_type)
UNION ALL
SELECT 'funnel', NULL, NULL, NULL, NULL, NULL, users,
       CASE WHEN prev > 0 THEN round(users / prev, 4) END, step, idx
FROM fr
UNION ALL
SELECT 'retention', NULL, NULL, NULL, NULL, NULL, rr.n,
       round(rr.n / cz.size, 4), strftime(rr.cohort, '%Y-%m-%d'), rr.off
FROM rr JOIN cz USING (cohort)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
QUERIES: dict = {
    "pipe_parse_recover": q_pipe_parse_recover,
    "pipe_sessionize": q_pipe_sessionize,
    "pipe_dt_filter": q_pipe_dt_filter,
    "pipe_merge_order": q_pipe_merge_order,
    "pipe_enrich_sinks": q_pipe_enrich_sinks,
    "pipe_summary_rollup": q_pipe_summary_rollup,
    "pipe_pattern_hits": q_pipe_pattern_hits,
    "pipe_year_rollover": q_pipe_year_rollover,
    "events_sessionize_gap": q_events_sessionize_gap,
    "pipe_output_project": q_pipe_output_project,
    "pipe_rejects": q_pipe_rejects,
    "pipe_tz_normalize": q_pipe_tz_normalize,
    "stream_enrich_sinks": q_stream_enrich_sinks,
}

ORACLES: dict = {
    "pipe_parse_recover": SQL_PIPE_PARSE_RECOVER,
    "pipe_sessionize": SQL_PIPE_SESSIONIZE,
    "pipe_dt_filter": SQL_PIPE_DT_FILTER,
    "pipe_merge_order": SQL_PIPE_MERGE_ORDER,
    "pipe_enrich_sinks": SQL_PIPE_ENRICH_SINKS,
    "pipe_summary_rollup": SQL_PIPE_SUMMARY_ROLLUP,
    "pipe_pattern_hits": SQL_PIPE_PATTERN_HITS,
    "pipe_year_rollover": SQL_PIPE_YEAR_ROLLOVER,
    "events_sessionize_gap": SQL_EVENTS_SESSIONIZE_GAP,
    "pipe_output_project": SQL_PIPE_OUTPUT_PROJECT,
    "pipe_rejects": SQL_PIPE_REJECTS,
    "pipe_tz_normalize": SQL_PIPE_TZ_NORMALIZE,
    "stream_enrich_sinks": SQL_PIPE_ENRICH_SINKS,
}
