"""RFC 3164 / 5424 protocol parse + PRI decode (operators/syslog_rfc.py).

The PRI table is pinned exhaustively (all 192 valid values) against an
independent python statement of RFC 5424 §6.2.1; the header/SD grammar
against hand-built lines covering NILVALUE, offset forms, fractional
digits, multiple SD elements, escaped quotes, and non-matching input.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark.operators.syslog_rfc import (
    FACILITY_NAMES,
    SEVERITY_NAMES,
    decode_pri,
    parse_rfc5424,
    sd_params,
)


def test_pri_table_exhaustive(spark):
    df = decode_pri(spark.range(0, 192).select(F.col("id").cast("int").alias("pri")))
    rows = {r["pri"]: r for r in df.collect()}
    assert len(rows) == 192
    for p in range(192):
        r = rows[p]
        assert r["facility_num"] == p // 8
        assert r["severity_num"] == p % 8
        assert r["facility"] == FACILITY_NAMES[p // 8]
        assert r["severity"] == SEVERITY_NAMES[p % 8]


def test_pri_out_of_range_is_null(spark):
    df = decode_pri(
        spark.createDataFrame([(192,), (255,), (-1,), (None,)], "pri int")
    )
    for r in df.collect():
        assert r["facility"] is None and r["severity"] is None
        assert r["facility_num"] is None and r["severity_num"] is None


FULL_5424 = (
    '<165>1 2024-01-02T03:04:05.123456Z host01 appd 7712 ID47 '
    '[ex@32473 iut="3" ip="10.0.0.9"][origin sw="s4"] body text here'
)


def _parse_one(spark, line, fn=parse_rfc5424):
    return fn(spark.createDataFrame([(line,)], "text string")).collect()[0]


def test_rfc5424_full_line(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    r = _parse_one(spark, FULL_5424)
    assert r["rfc5424_matched"]
    assert r["pri"] == 165 and r["version"] == 1
    assert r["facility"] == "local4" and r["severity"] == "notice"
    assert r["ts"] == datetime(2024, 1, 2, 3, 4, 5, 123456)
    assert r["hostname"] == "host01"
    assert r["app_name"] == "appd"
    assert r["procid"] == "7712"
    assert r["msgid"] == "ID47"
    assert r["sd"] == '[ex@32473 iut="3" ip="10.0.0.9"][origin sw="s4"]'
    assert r["msg"] == "body text here"


def test_rfc5424_nilvalues_and_offset(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    r = _parse_one(spark, "<0>1 2024-06-01T00:00:30+05:30 - - - - - ")
    assert r["rfc5424_matched"]
    assert r["facility"] == "kern" and r["severity"] == "emerg"
    # +05:30 normalizes to UTC in the session TZ
    assert r["ts"] == datetime(2024, 5, 31, 18, 30, 30)
    for f in ("hostname", "app_name", "procid", "msgid", "sd", "msg"):
        assert r[f] is None, f
    # nil timestamp
    r2 = _parse_one(spark, "<13>1 - h a p m - hello")
    assert r2["rfc5424_matched"] and r2["ts"] is None and r2["msg"] == "hello"


@pytest.mark.parametrize("frac", ["", ".1", ".12", ".123", ".1234", ".12345", ".123456"])
def test_rfc5424_fraction_widths(spark, frac):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    r = _parse_one(spark, f"<34>1 2024-03-04T05:06:07{frac}Z h a p m - x")
    us = int(frac[1:].ljust(6, "0")) if frac else 0
    assert r["ts"] == datetime(2024, 3, 4, 5, 6, 7, us)


def test_rfc5424_no_match(spark):
    for bad in [
        "plain text line",
        "<999>1 2024-01-01T00:00:00Z h a p m - x",  # pri too long
        "<14>Jan  2 03:04:05 host tag: bsd not 5424",
    ]:
        r = _parse_one(spark, bad)
        assert not r["rfc5424_matched"]
        assert r["pri"] is None and r["facility"] is None and r["msg"] is None


def test_sd_params_and_ids(spark):
    df = parse_rfc5424(spark.createDataFrame([(FULL_5424,)], "text string"))
    out = df.select(sd_params(F.col("sd")).alias("p")).collect()[0]
    assert out["p"] == {"iut": "3", "ip": "10.0.0.9", "sw": "s4"}


def test_sd_params_escaped_quote_and_dup_lastwins(spark):
    line = '<14>1 - h a p m [x k="a\\"b" k="second"] m'
    df = parse_rfc5424(spark.createDataFrame([(line,)], "text string"))
    p = df.select(sd_params(F.col("sd")).alias("p")).collect()[0]["p"]
    assert p == {"k": "second"}
    # nil SD -> empty map, not NULL
    df2 = parse_rfc5424(spark.createDataFrame([("<14>1 - h a p m - x",)], "text string"))
    assert df2.select(sd_params(F.col("sd")).alias("p")).collect()[0]["p"] == {}


def test_sd_escaped_bracket_in_value(spark):
    line = '<14>1 - h a p m [x k="a\\]b"][y z="1"] m'
    df = parse_rfc5424(spark.createDataFrame([(line,)], "text string"))
    r = df.select(F.col("sd"), sd_params(F.col("sd")).alias("p")).collect()[0]
    assert r["sd"] == '[x k="a\\]b"][y z="1"]'
    assert r["p"] == {"k": "a\\]b", "z": "1"}
