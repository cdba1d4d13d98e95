"""RFC 5424 syslog protocol parsing + <PRI> decode (the PRI is RFC 3164's too).

The reference recognizes ``<PRI>``-prefixed syslog lines (its DTPD
table carries ``<14>…`` test lines and pins the valid PRI range to
RFC 3164/5424's ``LOG_MAXPRI 191`` — ``/root/reference/src/data/
datetime.rs:2681,2689,2788``) but only extracts the datetime; this
module completes the protocol face the north rule asks for ("per-format
sysline detection (syslog, RFC 3164/5424 …)"): the PRI integer decodes
to (facility, severity) by pure integer math (``facility = pri / 8``,
``severity = pri % 8``, RFC 5424 §6.2.1), the 5424 header splits into
its seven fixed fields (VERSION TIMESTAMP HOSTNAME APP-NAME PROCID
MSGID STRUCTURED-DATA), and STRUCTURED-DATA parameters extract into a
map column.

Scale shape (100 TB): everything here is a map-only Project over the
scan — ``regexp_extract`` + integer CASE inside whole-stage codegen,
zero Python, zero shuffles, zero state. The facility/severity name
tables are 24/8-element array literals resolved per row by
``element_at`` (codegen'd array index, not a join).

All regexes live in the RE2 ∩ Java subset (no lookaround /
backreferences) so DuckDB oracles can evaluate the identical pattern —
same twin discipline as operators/grok.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# RFC 5424 §6.2.1 Table 1 — facility codes 0..23
FACILITY_NAMES = [
    "kern", "user", "mail", "daemon", "auth", "syslog", "lpr", "news",
    "uucp", "cron", "authpriv", "ftp", "ntp", "audit", "alert", "clock",
    "local0", "local1", "local2", "local3", "local4", "local5", "local6",
    "local7",
]

# RFC 5424 §6.2.1 Table 2 — severity codes 0..7
SEVERITY_NAMES = ["emerg", "alert", "crit", "err", "warning", "notice", "info", "debug"]

LOG_MAXPRI = 191  # highest valid PRI (reference datetime.rs:2689)


def pri_facility_num(pri: Column) -> Column:
    return (pri / 8).cast("int")


def pri_severity_num(pri: Column) -> Column:
    return (pri % 8).cast("int")


def decode_pri(df: DataFrame, pri_col: str = "pri") -> DataFrame:
    """Attach facility/severity numbers and RFC keyword names decoded
    from an integer PRI column. Out-of-range PRI (NULL, <0, >191) yields
    NULL in all four columns — a PRI the protocol forbids must not decode
    to a plausible facility."""
    pri = F.col(pri_col).cast("int")
    valid = pri.isNotNull() & (pri >= 0) & (pri <= LOG_MAXPRI)
    fac_tab = F.array(*[F.lit(x) for x in FACILITY_NAMES])
    sev_tab = F.array(*[F.lit(x) for x in SEVERITY_NAMES])
    # the element_at lookups live INSIDE the when() guard so the index
    # is in range whenever they evaluate (ANSI element_at throws on an
    # out-of-bounds index and mis-folds a NULL-bearing index expression)
    return (
        df.withColumn("facility_num", F.when(valid, pri_facility_num(pri)))
        .withColumn("severity_num", F.when(valid, pri_severity_num(pri)))
        .withColumn(
            "facility", F.when(valid, F.element_at(fac_tab, pri_facility_num(pri) + F.lit(1)))
        )
        .withColumn(
            "severity", F.when(valid, F.element_at(sev_tab, pri_severity_num(pri) + F.lit(1)))
        )
    )


# RFC 5424 §6 ABNF, flattened to one regex. HEADER = PRI VERSION SP
# TIMESTAMP SP HOSTNAME SP APP-NAME SP PROCID SP MSGID; then SP
# STRUCTURED-DATA and optionally SP MSG. NILVALUE is '-'.
_NIL_OR = lambda body: f"(-|{body})"  # noqa: E731
_RFC5424_RE = (
    # PRIVAL = 0..191, no leading zeros (RFC 5424 §6.2.1 ABNF; the
    # reference pins the same LOG_MAXPRI 191 bound, datetime.rs:2689)
    r"^<(0|[1-9]\d?|1[0-8]\d|19[01])>"  # 1 pri
    r"(\d{1,2}) "  # 2 version
    + _NIL_OR(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d{1,6})?(?:Z|[+-]\d{2}:\d{2})")  # 3 ts
    + r" "
    + _NIL_OR(r"[!-~]{1,255}")  # 4 hostname (PRINTUSASCII)
    + r" "
    + _NIL_OR(r"[!-~]{1,48}")  # 5 app-name
    + r" "
    + _NIL_OR(r"[!-~]{1,128}")  # 6 procid
    + r" "
    + _NIL_OR(r"[!-~]{1,32}")  # 7 msgid
    + r" "
    + r"(-|(?:\[(?:[^\]\\]|\\.)*\])+)"  # 8 structured-data (\] escapes ok)
    + r"(?: (.*))?$"  # 9 msg
)


def _nil_null(c: Column) -> Column:
    """NILVALUE '-' and the empty string (no match) both read as NULL."""
    return F.when((c != "") & (c != "-"), c)


def parse_rfc5424(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Parse RFC 5424 syslog-protocol lines into typed columns:
    ``pri version ts hostname app_name procid msgid sd msg`` plus the
    decoded ``facility_num severity_num facility severity``. Lines that
    do not match the 5424 grammar carry ``rfc5424_matched = false`` and
    NULL fields. NILVALUE ('-') fields are NULL.

    One JVM regex evaluated per field inside codegen; the timestamp
    converts with ``to_timestamp`` (session-TZ aware, offset honored).
    """
    t = F.col(text_col)
    matched = t.rlike(_RFC5424_RE)
    g = lambda i: F.when(matched, F.regexp_extract(t, _RFC5424_RE, i))  # noqa: E731
    ts_s = _nil_null(g(3))
    out = (
        df.withColumn("rfc5424_matched", matched)
        .withColumn("pri", F.when(matched, g(1).cast("int")))
        .withColumn("version", g(2).cast("int"))
        .withColumn(
            "ts",
            # canonicalize (right-pad fraction to 6 digits, Z -> +00:00)
            # so ONE fixed pattern parses every legal width — stacked
            # optional-fraction brackets are parser-ambiguous in Spark
            F.to_timestamp(
                F.concat(
                    F.substring(ts_s, 1, 19),
                    F.lit("."),
                    F.rpad(F.regexp_extract(ts_s, r"\.(\d{1,6})", 1), 6, "0"),
                    F.regexp_replace(
                        F.regexp_extract(ts_s, r"(Z|[+-]\d{2}:\d{2})$", 1), "Z", "+00:00"
                    ),
                ),
                "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
            ),
        )
        .withColumn("hostname", _nil_null(g(4)))
        .withColumn("app_name", _nil_null(g(5)))
        .withColumn("procid", _nil_null(g(6)))
        .withColumn("msgid", _nil_null(g(7)))
        .withColumn("sd", _nil_null(g(8)))
        .withColumn("msg", F.when(matched & (g(9) != ""), g(9)))
    )
    return decode_pri(out)


# SD-PARAM: PARAM-NAME "=" %d34 PARAM-VALUE %d34 (values may contain
# escaped \" — the value class below stops at an unescaped quote).
_SD_PARAM_RE = r'([A-Za-z0-9@._-]+)="((?:[^"\\]|\\.)*)"'


def sd_params(sd: Column) -> Column:
    """STRUCTURED-DATA parameters as ``map<string,string>`` (all SD
    elements merged; on a duplicate param name the LAST occurrence wins,
    deterministically). NULL/absent SD yields an empty map."""
    names = F.regexp_extract_all(sd, F.lit(_SD_PARAM_RE), 1)
    vals = F.regexp_extract_all(sd, F.lit(_SD_PARAM_RE), 2)
    pairs = F.zip_with(names, vals, lambda n, v: F.struct(n.alias("n"), v.alias("v")))
    m = F.aggregate(
        pairs,
        F.create_map().cast("map<string,string>"),
        lambda acc, p: F.map_concat(F.map_filter(acc, lambda k, _: k != p["n"]), F.create_map(p["n"], p["v"])),
    )
    return F.when(sd.isNotNull(), m).otherwise(F.create_map().cast("map<string,string>"))
