"""Grok-pattern field extraction — the named-pattern face of the
north rule's "grok/regex parse" stage.

A grok expression composes library patterns by name —
``%{IP:client} .* %{INT:status}`` — and extracts named fields into
typed columns; this module compiles the expression to ONE plain regex
and evaluates it with codegen'd ``regexp_extract`` calls (no Python,
no UDF). The pattern library below re-derives the standard public grok
conventions (logstash-patterns-core names) in original regexes
restricted to the Java-regex ∩ RE2 subset (no lookaround, no
backreferences — same twin discipline as operators/curation.py) so the
driver's DuckDB oracle evaluates the identical regex.

Scale shape (100 TB): compilation happens once on the driver (pure
string work); extraction is a map-only Project over the scan — one
JVM regex evaluation per field per row inside whole-stage codegen,
zero shuffles, zero state.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Library entries may reference other entries with %{NAME}. All regexes
# are RE2 ∩ Java (mirrored literally into DuckDB oracles).
GROK_PATTERNS: dict[str, str] = {
    "INT": "[+-]?\\d+",
    "NUMBER": "[+-]?\\d+(?:\\.\\d+)?",
    "POSINT": "\\d+",
    "WORD": "\\w+",
    "NOTSPACE": "\\S+",
    "SPACE": "\\s*",
    "DATA": ".*?",
    "GREEDYDATA": ".*",
    "USERNAME": "[a-zA-Z0-9._-]+",
    "USER": "%{USERNAME}",
    "IPV4": "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}",
    "IP": "%{IPV4}",
    "HOSTNAME": "[a-zA-Z0-9][a-zA-Z0-9_-]*(?:\\.[a-zA-Z0-9][a-zA-Z0-9_-]*)*",
    "LOGLEVEL": "(?:TRACE|DEBUG|INFO|NOTICE|WARN(?:ING)?|ERR(?:OR)?|CRIT(?:ICAL)?|FATAL|SEVERE)",
    "MONTH": "(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)",
    "MONTHDAY": "(?:[12]\\d|3[01]|0?[1-9])",
    "YEAR": "\\d{4}",
    "TIME": "\\d{2}:\\d{2}:\\d{2}",
    "HTTPDATE": "%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{ISO8601_TIMEZONE}",
    "ISO8601_TIMEZONE": "(?:Z|[+-]\\d{2}:?\\d{2})",
    "TIMESTAMP_ISO8601": "%{YEAR}-\\d{2}-\\d{2}[T ]%{TIME}(?:\\.\\d+)?%{ISO8601_TIMEZONE}?",
    "SYSLOGTIMESTAMP": "%{MONTH} +%{MONTHDAY} %{TIME}",
    "QS": '"[^"]*"',
    "UUID": "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    # composed classics
    "COMMONAPACHELOG": (
        '%{IP:clientip} %{USER:ident} %{USER:auth} \\[%{HTTPDATE:timestamp}\\] '
        '"%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?" '
        "%{INT:response} (?:%{INT:bytes}|-)"
    ),
}

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?\}")


def grok_to_regex(pattern: str, library: dict[str, str] | None = None) -> tuple[str, list[str]]:
    """Compile a grok expression to (plain regex, ordered field names).

    Named references become capturing groups in expansion order;
    unnamed references expand inline (their own inner groups are
    emitted non-capturing, so group N == field N). Unknown pattern
    names raise.
    """
    lib = GROK_PATTERNS if library is None else library
    fields: list[str] = []

    def expand(p: str, capture_fields: bool, depth: int = 0) -> str:
        if depth > 20:
            raise ValueError("grok pattern recursion too deep (cycle?)")

        def sub(m: re.Match) -> str:
            name, field = m.group(1), m.group(2)
            if name not in lib:
                raise ValueError(f"unknown grok pattern %{{{name}}}")
            inner = expand(lib[name], capture_fields and field is None, depth + 1)
            if field is not None and capture_fields:
                fields.append(field)
                return f"({inner})"
            return f"(?:{inner})"

        return _GROK_REF.sub(sub, p)

    regex = expand(pattern, True)
    return regex, fields


def grok_parse(
    df: DataFrame,
    pattern: str,
    text_col: str = "text",
    library: dict[str, str] | None = None,
    anchor: bool = True,
) -> DataFrame:
    """Extract the grok expression's named fields as string columns plus
    a ``grok_matched`` flag; non-matching rows carry NULL fields. Empty
    extractions normalize to NULL UNIFORMLY: Spark ``regexp_extract``
    returns '' both on a matched-but-non-participating optional group
    (``httpversion`` in ``(?: HTTP/%{NUMBER:httpversion})?``) and on a
    genuinely empty capture, so '' would be ambiguous — this operator
    never emits '' (ADVICE r4: field absent and zero-width capture both
    read as NULL, matching what ``re.fullmatch().groups()`` reports for
    the absent case). ``anchor=True`` pins the expression to the whole
    line (``^…$`` semantics via a full-match regex)."""
    regex, fields = grok_to_regex(pattern, library)
    if anchor:
        regex = f"^{regex}$"
    matched = F.col(text_col).rlike(regex)
    out = df.withColumn("grok_matched", matched)
    for i, name in enumerate(fields, start=1):
        got = F.regexp_extract(F.col(text_col), regex, i)
        out = out.withColumn(name, F.when(matched & (got != ""), got))
    return out
