"""Operator-level tests: year inference, CLI filters, catalog rules,
checkpoint/resume."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pytest

from super_speedy_syslog_searcher_spark.operators.filters import (
    AFTER_RANGE,
    BEFORE_RANGE,
    IN_RANGE,
    dt_pass_filters,
    parse_dt_filter,
    resolve_filters,
    string_wdhms_to_duration,
)
from super_speedy_syslog_searcher_spark.sources.catalog import (
    EVTX,
    FIXEDSTRUCT,
    JOURNAL,
    TEXT,
    UNPARSABLE,
    guess_filetype,
)
from super_speedy_syslog_searcher_spark.sources.tokenized import (
    REFERENCE_YEAR,
    gen_corpus,
    gen_year_rollover_doc,
)

UTC = timezone.utc


# ---------------------------------------------------------------- yearfix
def test_year_rollover(spark):
    from super_speedy_syslog_searcher_spark.plans.pipeline import PipelineConfig, run_pipeline

    docs_pd, golden = gen_year_rollover_doc()
    docs = spark.createDataFrame(docs_pd, schema="doc_id string, tokens array<int>, n_tok int, source string")
    lookup = spark.createDataFrame(
        [("rollover.000", "kern", "info", "kern.info")],
        "source string, facility string, severity string, sink_key string",
    )
    res = run_pipeline(docs, lookup, PipelineConfig(reference_year=REFERENCE_YEAR))
    msgs = res["messages"].toPandas().sort_values("msg_no")
    res["parsed_lines"].unpersist()
    got = list(msgs["ts"])
    exp = [t.to_pydatetime().replace(tzinfo=None) for t in pd.to_datetime(golden["ts_expect"])]
    assert [g.to_pydatetime() for g in pd.to_datetime(got)] == exp
    # Dec rows really did get REFERENCE_YEAR-1
    assert got[0].year == REFERENCE_YEAR - 1 and got[-1].year == REFERENCE_YEAR


def _walk(docs: list[list[tuple[datetime, bool]]], reference_year: int) -> list[datetime]:
    """s4's process_missing_year, written as the sequential walk, one doc
    at a time: go backwards from the last no-year row; a row more than
    25 h after its successor, both placed in the current year, starts the
    previous year. Rows with a year are skipped. A Feb 29 the new year
    lacks is compared as Mar 1 and keeps its parsed timestamp."""
    import calendar

    def at(t: datetime, year: int) -> datetime:
        return t.replace(year=year, day=1) + timedelta(days=t.day - 1)

    out = []
    for rows in docs:
        fixed = [t for t, _ in rows]
        year, successor = reference_year, None
        for i in reversed(range(len(rows))):
            t, no_year = rows[i]
            if not no_year:
                continue
            cur = at(t, year)
            if successor is not None and cur - successor > timedelta(hours=25):
                year -= 1
                cur = at(t, year)
            successor = cur
            if (t.month, t.day) != (2, 29) or calendar.isleap(year):
                fixed[i] = cur
        out.extend(fixed)
    return out


def _fix_years_frame(docs: list[list[tuple[datetime, bool]]]) -> pd.DataFrame:
    from super_speedy_syslog_searcher_spark.functions.parse import NOYEAR_PATTERN_IDS

    with_year = next(p for p in range(100) if p not in NOYEAR_PATTERN_IDS)
    rows = [
        (f"d{i}", m, t, NOYEAR_PATTERN_IDS[0] if no_year else with_year)
        for i, doc in enumerate(docs)
        for m, (t, no_year) in enumerate(doc, start=1)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "msg_no", "ts", "pattern_id"])
    pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
    return pdf


def test_yearfix_pure():
    """The batch rule equals the sequential walk on several rollovers in
    one doc, a leap-day gap whose verdict depends on the current year,
    Feb 29 moved into a common year, year rows mixed with no-year rows,
    and docs that end and start across a year boundary."""
    from super_speedy_syslog_searcher_spark.operators.yearfix import fix_years

    def d(month, day, hour=0, minute=0, us=0, year=2024):
        return datetime(year, month, day, hour, minute, 0, us, tzinfo=UTC)

    docs = [
        # three rollovers: Dec→Jan twice and a far jump back to June
        [(d(11, 30), True), (d(12, 31, 23), True), (d(1, 2), True), (d(6, 1), True),
         (d(12, 30, us=7), True), (d(1, 1, 0, 30), True), (d(3, 3), True), (d(1, 5), True)],
        # Mar 1 01:00 → Feb 28 23:30 is 25.5 h back in a leap year, 1.5 h
        # in a common one: no rollover once Jan moves the walk into 2023
        [(d(3, 1, 1), True), (d(2, 28, 23, 30), True), (d(12, 31, 12), True), (d(1, 1), True)],
        # Feb 29 lands in 2022 and keeps its parsed 2024 timestamp
        [(d(2, 29, 2), True), (d(2, 28), True), (d(12, 31, 23), True), (d(1, 1, 1), True)],
        # year rows pass through and never break the no-year sequence
        [(d(12, 30), True), (d(5, 5, year=2021), False), (d(1, 2), True),
         (d(1, 1, year=2030), False), (d(1, 3), True)],
        # a doc ending Dec 31 followed by one starting Jan 1: no rollover
        [(d(12, 31), True), (d(6, 1, year=2019), False)],
        [(d(1, 1), True)],
    ]
    pdf = _fix_years_frame(docs)
    out = fix_years(pdf)
    want = _walk(docs, 2024)
    assert [t.to_pydatetime() for t in out["ts"]] == want
    assert list(out["ts"].dt.year) == [
        2021, 2021, 2022, 2022, 2022, 2023, 2023, 2024,
        2023, 2023, 2023, 2024,
        2024, 2023, 2023, 2024,
        2023, 2021, 2024, 2030, 2024,
        2024, 2019,
        2024,
    ]
    # the input frame is left as it was
    assert list(pdf["ts"].dt.year).count(2024) == 21


@pytest.mark.parametrize("reference_year", [2023, 2024])
def test_yearfix_random_docs_match_walk(reference_year):
    """Random docs of random dates in random order — rollovers, leap
    days and year rows everywhere — against the sequential walk."""
    import calendar

    from super_speedy_syslog_searcher_spark.operators.yearfix import fix_years

    rng = np.random.default_rng(reference_year)
    n_days = 366 if calendar.isleap(reference_year) else 365
    docs = []
    for _ in range(300):
        doc = []
        for _ in range(rng.integers(1, 10)):
            day = datetime(reference_year, 1, 1, tzinfo=UTC) + timedelta(
                days=int(rng.integers(0, n_days)), seconds=int(rng.integers(0, 86400))
            )
            doc.append((day, bool(rng.random() < 0.85)))
        docs.append(doc)
    out = fix_years(_fix_years_frame(docs))
    assert [t.to_pydatetime() for t in out["ts"]] == _walk(docs, reference_year)


# ---------------------------------------------------------------- filters
def test_dt_pass_filters_scalar():
    a = datetime(2020, 1, 1, tzinfo=UTC)
    b = datetime(2020, 1, 2, tzinfo=UTC)
    assert dt_pass_filters(a, a, b) == IN_RANGE  # inclusive both ends
    assert dt_pass_filters(b, a, b) == IN_RANGE
    assert dt_pass_filters(a - timedelta(seconds=1), a, b) == BEFORE_RANGE
    assert dt_pass_filters(b + timedelta(seconds=1), a, b) == AFTER_RANGE


def test_parse_dt_filter_forms():
    assert parse_dt_filter("20000101T002000") == datetime(2000, 1, 1, 0, 20, tzinfo=UTC)
    assert parse_dt_filter("2000-01-01 00:20:00") == datetime(2000, 1, 1, 0, 20, tzinfo=UTC)
    # fractional must be exactly %3f or %6f (reference table rows)
    assert parse_dt_filter("2000-01-01T00:20:00.500") == datetime(2000, 1, 1, 0, 20, 0, 500000, tzinfo=UTC)
    assert parse_dt_filter("2000-01-01T00:20:00.500000") == datetime(2000, 1, 1, 0, 20, 0, 500000, tzinfo=UTC)
    with pytest.raises(ValueError):
        parse_dt_filter("2000-01-01T00:20:00.5")
    # date-only → midnight appended (s4.rs:444-448)
    assert parse_dt_filter("2000-01-01") == datetime(2000, 1, 1, tzinfo=UTC)
    # epoch +%s
    assert parse_dt_filter("+1609459200") == datetime(2021, 1, 1, tzinfo=UTC)
    # default tz offset applies to bare datetimes
    assert parse_dt_filter("2000-01-01 00:20:00", tz_offset="-08:00") == datetime(2000, 1, 1, 8, 20, tzinfo=UTC)
    # explicit tz wins
    assert parse_dt_filter("2000-01-01 00:20:00 +02:00", tz_offset="-08:00") == datetime(
        1999, 12, 31, 22, 20, tzinfo=UTC
    )
    # named tz
    assert parse_dt_filter("2000-01-01 00:20:00 PST") == datetime(2000, 1, 1, 8, 20, tzinfo=UTC)
    with pytest.raises(ValueError):
        parse_dt_filter("2000-01-01 00:20:00 IST")  # ambiguous → reject (README.md:424)


def test_relative_filters():
    now = datetime(2020, 6, 1, 12, 0, 0, tzinfo=UTC)
    assert string_wdhms_to_duration("1w2d3h4m5s") == timedelta(weeks=1, days=2, hours=3, minutes=4, seconds=5)
    assert parse_dt_filter("-1h", now=now) == now - timedelta(hours=1)
    a, b = resolve_filters("2020-06-01 00:00:00", "@+30m", now=now)
    assert b == a + timedelta(minutes=30)
    a2, b2 = resolve_filters("@-1d", "2020-06-01 00:00:00", now=now)
    assert a2 == b2 - timedelta(days=1)


# ---------------------------------------------------------------- catalog
@pytest.mark.parametrize(
    "name,expect",
    [
        ("syslog", TEXT),
        ("messages.1", TEXT),
        ("kern.log.2.gz", TEXT),
        ("app.log.xz", TEXT),
        ("system.evtx", EVTX),
        ("user.journal", JOURNAL),
        ("system.journal.gz", JOURNAL),
        ("utmp", FIXEDSTRUCT),
        ("wtmp.1", FIXEDSTRUCT),
        ("lastlog", FIXEDSTRUCT),
        ("btmpx", FIXEDSTRUCT),
        ("photo.jpg", UNPARSABLE),
        ("lib.so", UNPARSABLE),
    ],
)
def test_guess_filetype(name, expect):
    assert guess_filetype(name) == expect


def test_filetype_col(spark):
    from super_speedy_syslog_searcher_spark.sources.catalog import filetype_col
    from pyspark.sql import functions as F

    names = ["syslog", "system.evtx", "user.journal", "wtmp.1", "photo.jpg", "kern.log.2.gz"]
    df = spark.createDataFrame([(n,) for n in names], ["source"]).withColumn("ft", filetype_col(F.col("source")))
    got = {r["source"]: r["ft"] for r in df.collect()}
    assert got == {
        "syslog": TEXT,
        "system.evtx": EVTX,
        "user.journal": JOURNAL,
        "wtmp.1": FIXEDSTRUCT,
        "photo.jpg": UNPARSABLE,
        "kern.log.2.gz": TEXT,
    }


# ---------------------------------------------------------------- resume
def test_checkpoint_resume(spark, tmp_path):
    from super_speedy_syslog_searcher_spark.plans.pipeline import (
        PipelineConfig,
        read_manifest,
        run_pipeline_resumable,
    )

    docs_pd, enrich_pd, _ = gen_corpus(n_docs=20, lines_per_doc=5, n_sources=4, seed=1)
    docs = spark.createDataFrame(docs_pd, schema="doc_id string, tokens array<int>, n_tok int, source string")
    lookup = spark.createDataFrame(enrich_pd)
    cfg = PipelineConfig(reference_year=REFERENCE_YEAR)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    n_input_sources = docs_pd["source"].nunique()
    m1 = run_pipeline_resumable(docs, lookup, cfg, out, ckpt, run_id="r1")
    assert not m1["skipped"] and m1["n_new_sources"] == n_input_sources
    manifest = read_manifest(spark, ckpt).toPandas()
    assert set(manifest["source"]) == set(docs_pd["source"].unique())
    # north_star metrics: per-DTPD hit counts + per-source line misses.
    # Hit totals are line-grained (≥ messages); every source in this
    # corpus parses at least one line, and hit keys ⊆ patterns_used.
    for _, row in manifest.iterrows():
        hits = row["pattern_hits"]
        assert sum(hits.values()) >= row["n_messages"] > 0, row["source"]
        assert set(hits) <= set(row["patterns_used"]), row["source"]
        assert row["n_lines_missed"] >= 0
    # ... and they equal the line-grained counts over the parsed lines of
    # the same docs
    from super_speedy_syslog_searcher_spark.operators.summary import pattern_hit_miss
    from super_speedy_syslog_searcher_spark.plans.pipeline import parse_stage

    lines = pattern_hit_miss(parse_stage(docs, cfg)).toPandas()
    for _, row in manifest.iterrows():
        ref = lines[lines["source"] == row["source"]]
        hit = ref["pattern_id"] >= 0
        assert dict(row["pattern_hits"]) == dict(zip(ref["pattern_id"][hit], ref["n"][hit])), row["source"]
        assert row["n_lines_missed"] == ref["n"][~hit].sum(), row["source"]

    # second run: everything already done → full skip
    m2 = run_pipeline_resumable(docs, lookup, cfg, out, ckpt, run_id="r2")
    assert m2["skipped"]

    # add a new source → only it is processed
    docs2_pd, enrich2_pd, _ = gen_corpus(n_docs=5, lines_per_doc=5, n_sources=1, seed=2)
    docs2_pd["source"] = "newsrc.999"
    docs2_pd["doc_id"] = ["newsrc.999/%06d" % i for i in range(len(docs2_pd))]
    both = spark.createDataFrame(
        pd.concat([docs_pd, docs2_pd], ignore_index=True),
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    )
    m3 = run_pipeline_resumable(both, lookup, cfg, out, ckpt, run_id="r3")
    assert not m3["skipped"] and m3["n_new_sources"] == 1


def test_cli_filter_grammar_all_76_reference_forms():
    """Table-driven sweep over every CLI_FILTER_PATTERNS entry
    (/root/reference/src/bin/s4.rs:286-389): render a sample value in each
    of the 76 accepted forms and assert the parsed UTC instant."""
    from datetime import datetime, timezone

    from super_speedy_syslog_searcher_spark.operators.filters import parse_dt_filter

    base = dict(date="2022-07-18", time="19:34:46")
    wall_utc = datetime(2022, 7, 18, 19, 34, 46, tzinfo=timezone.utc)
    fracs = [("", 0), (".123", 123000), (".123456", 123456)]
    # (tz_text, offset_minutes) per tz style; None style = default tz (+00)
    tzs = {"z": ("+0130", 90), "zc": ("+01:30", 90), "zp": ("+01", 60), "Z": ("PST", -480)}

    cases = []  # (filter_string, expected_utc)

    def add(s, off_min, frac_us):
        expected = wall_utc.replace(microsecond=frac_us) - __import__("datetime").timedelta(minutes=off_min)
        cases.append((s, expected))

    compact_dt = base["date"].replace("-", "") + "T" + base["time"].replace(":", "")
    dash_sp = f"{base['date']} {base['time']}"
    dash_t = f"{base['date']}T{base['time']}"
    slash_sp = f"{base['date'].replace('-', '/')} {base['time']}"

    for f_txt, f_us in fracs:
        add(compact_dt + f_txt, 0, f_us)                      # rows 1-3
        for style in ("z", "zc", "zp", "Z"):
            t, off = tzs[style]
            add(compact_dt + f_txt + t, off, f_us)            # rows 4-15 (attached)
        add(dash_sp + f_txt, 0, f_us)                         # rows 16-18
        for style in ("z", "zc", "zp", "Z"):
            t, off = tzs[style]
            add(dash_sp + f_txt + " " + t, off, f_us)         # rows 19-30 (spaced)
        add(dash_t + f_txt, 0, f_us)                          # rows 31-33
        for style in ("z", "zc", "zp", "Z"):
            t, off = tzs[style]
            add(dash_t + f_txt + t, off, f_us)                # T-form attached
            add(dash_t + f_txt + " " + t, off, f_us)          # T-form spaced
        add(slash_sp + f_txt, 0, f_us)                        # rows 58-60
        for style in ("z", "zc", "zp", "Z"):
            t, off = tzs[style]
            add(slash_sp + f_txt + " " + t, off, f_us)        # rows 61-72 (spaced)

    # date-only rows 73-75 (midnight, default tz, no frac/tz allowed)
    for d in ("20220718", "2022-07-18", "2022/07/18"):
        cases.append((d, datetime(2022, 7, 18, tzinfo=timezone.utc)))
    # epoch row 76
    cases.append(("+1658172886", datetime.fromtimestamp(1658172886, tz=timezone.utc)))

    assert len(cases) >= 76
    for s, expected in cases:
        got = parse_dt_filter(s)
        assert got == expected, f"{s!r}: {got} != {expected}"

    # rejection parity: forms the reference table does NOT contain
    import pytest

    for bad in (
        "2022-07-18 PST",          # date-only rows have has_tz=false
        "2022-07-18.123",          # ... and no fractional
        "2022-07-18 19:34:46.12",  # fractional must be %3f or %6f
        "2022-07-18 19:34:46 IST",  # ambiguous named tz → reject
        "bogus",
    ):
        with pytest.raises(ValueError):
            parse_dt_filter(bad)


def test_filetype_full_reference_skiplist():
    """The skiplist mirrors the reference's non-log extension set
    (filepreprocessor.rs:481-546)."""
    from super_speedy_syslog_searcher_spark.sources.catalog import (
        UNPARSABLE_EXTS,
        guess_filetype,
    )

    assert len(UNPARSABLE_EXTS) >= 65
    for name, want in (
        ("core.7z", "unparsable"),
        ("setup.exe", "unparsable"),
        ("lib.so.1", "unparsable"),  # rotation suffix stripped first
        ("notes.py", "unparsable"),
        ("index.html", "unparsable"),
        ("messages.1.gz", "text"),
        ("pacct.2", "fixedstruct"),
        ("wtmpx", "fixedstruct"),
        ("system.journal", "journal"),
        ("Security.evtx", "evtx"),
    ):
        assert guess_filetype(name) == want, name
    assert guess_filetype("setup.exe", unparseable_are_text=True) == "text"


def test_dt_pass_filters_reference_cases():
    """The reference's dt_pass_filters sweep
    (src/tests/datetime_tests.rs:982-1048), ported verbatim: ternary
    range classification is inclusive at BOTH ends."""
    from datetime import datetime, timedelta, timezone

    from super_speedy_syslog_searcher_spark.operators.filters import (
        AFTER_RANGE,
        BEFORE_RANGE,
        IN_RANGE,
        dt_pass_filters,
    )

    tz = timezone(timedelta(hours=-2))  # FixedOffset::west(2h)

    def dtl(s):
        return datetime.strptime(s, "%Y%m%dT%H%M%S").replace(tzinfo=tz)

    cases = [
        ("20000101T010105", "20000101T010106", "20000101T010107", IN_RANGE),
        ("20000101T010107", "20000101T010106", "20000101T010108", BEFORE_RANGE),
        ("20000101T010101", "20000101T010106", "20000101T010102", AFTER_RANGE),
        ("20000101T010101", "20000101T010106", None, IN_RANGE),
        ("20000101T010102", "20000101T010101", None, BEFORE_RANGE),
        ("20000101T010101", "20000101T010101", None, IN_RANGE),
        (None, "20000101T010101", "20000101T010106", IN_RANGE),
        (None, "20000101T010101", "20000101T010100", AFTER_RANGE),
        (None, "20000101T010101", "20000101T010101", IN_RANGE),
    ]
    for a, dt, b, want in cases:
        got = dt_pass_filters(dtl(dt), dtl(a) if a else None, dtl(b) if b else None)
        assert got == want, (a, dt, b, got, want)


def test_filetype_reference_sweep_295_cases():
    """Run the reference's entire path_to_filetype test sweep
    (src/tests/filepreprocessor_tests.rs #[test_case] table) against
    guess_filetype — 295 names covering rotation/compression stripping,
    fixedstruct names and extensions, journal/evtx, the skiplist, the
    unparseable_are_text flag, and punctuation-only names."""
    import re
    from pathlib import Path

    from super_speedy_syslog_searcher_spark.sources.catalog import guess_filetype

    ref = Path("/root/reference/src/tests/filepreprocessor_tests.rs")
    if not ref.exists():
        pytest.skip("reference tree not present")
    src = ref.read_text()
    cases = re.findall(
        r'#\[test_case\("((?:[^"\\]|\\.)*)",\s*(FT\w+),\s*(true|false)(?:;[^\]]*)?\)\]', src
    )
    assert len(cases) >= 290

    def cat(ft: str) -> str:
        if "UNPARSABLE" in ft:
            return "unparsable"
        if "EVTX" in ft:
            return "evtx"
        if "JOURNAL" in ft:
            return "journal"
        if any(k in ft for k in ("UTMP", "LASTLOG", "ACCT")):
            return "fixedstruct"
        return "text"

    failures = []
    for name, ft, flag in cases:
        want = cat(ft)
        if flag == "true" and want == "unparsable":
            want = "text"  # reference maps unparseable→text under the flag
        got = guess_filetype(name, unparseable_are_text=(flag == "true"))
        if got != want:
            failures.append((name, ft, flag, want, got))
    assert not failures, failures[:10]
