"""Grok compilation + extraction (operators/grok.py)."""

from __future__ import annotations

import re

import pytest

from super_speedy_syslog_searcher_spark.operators.grok import (
    GROK_PATTERNS,
    grok_parse,
    grok_to_regex,
)


class TestGrokCompile:
    def test_field_order_and_groups(self):
        rx, fields = grok_to_regex("%{IP:client} %{WORD:verb} %{INT:status}")
        assert fields == ["client", "verb", "status"]
        m = re.fullmatch(rx, "10.0.0.1 GET 200")
        assert m and m.group(1) == "10.0.0.1" and m.group(3) == "200"

    def test_unnamed_nested_composite_still_captures_fields(self):
        rx, fields = grok_to_regex("%{COMMONAPACHELOG}")
        line = '192.168.0.1 - - [01/Jun/2023:06:15:56 +0000] "GET /p17" 200 17'
        m = re.fullmatch(rx, line)
        assert m is not None
        d = dict(zip(fields, m.groups()))
        assert d["clientip"] == "192.168.0.1"
        assert d["verb"] == "GET" and d["request"] == "/p17"
        assert d["response"] == "200" and d["bytes"] == "17"
        assert d["httpversion"] is None  # optional group absent

    def test_named_composite_captures_whole(self):
        rx, fields = grok_to_regex("%{QS:quoted} %{INT:n}")
        m = re.fullmatch(rx, '"a b" 7')
        assert fields == ["quoted", "n"] and m.group(1) == '"a b"'

    def test_unknown_pattern_raises(self):
        with pytest.raises(ValueError, match="unknown grok pattern"):
            grok_to_regex("%{NOPE:x}")

    def test_library_regexes_are_re2_safe(self):
        # no lookaround / backreferences anywhere in the library
        for name, pat in GROK_PATTERNS.items():
            assert "(?=" not in pat and "(?!" not in pat and "(?<" not in pat, name
            assert not re.search(r"\\[1-9]", pat), name


class TestGrokParse:
    def test_extracts_and_flags(self, spark):
        rows = [
            (1, '10.1.2.3 - bob [01/Jun/2023:06:15:56 +0000] "POST /x HTTP/1.1" 404 99'),
            (2, "not an access log line"),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        got = {
            r["id"]: r
            for r in grok_parse(df, "%{COMMONAPACHELOG}").collect()
        }
        ok = got[1]
        assert ok["grok_matched"] and ok["clientip"] == "10.1.2.3"
        assert ok["auth"] == "bob" and ok["verb"] == "POST"
        assert ok["request"] == "/x" and ok["httpversion"] == "1.1"
        assert ok["response"] == "404" and ok["bytes"] == "99"
        miss = got[2]
        assert not miss["grok_matched"] and miss["clientip"] is None


class TestOptionalGroupNull:
    def test_absent_optional_group_is_null_not_empty(self, spark):
        """ADVICE r4: a matched row whose optional group did not
        participate (CLF without HTTP version) must report NULL, same as
        the python re reference — never ''."""
        rows = [
            (1, '10.1.2.3 - - [01/Jun/2023:06:15:56 +0000] "GET /x" 200 17'),
            (2, '10.1.2.3 - - [01/Jun/2023:06:15:56 +0000] "GET /x HTTP/1.0" 200 17'),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        got = {r["id"]: r for r in grok_parse(df, "%{COMMONAPACHELOG}").collect()}
        assert got[1]["grok_matched"] and got[1]["httpversion"] is None
        assert got[2]["grok_matched"] and got[2]["httpversion"] == "1.0"
