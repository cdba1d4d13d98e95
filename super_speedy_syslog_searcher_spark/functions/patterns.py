"""DTPD — the datetime-pattern table, as data.

The PySpark re-expression of the reference's ``DATETIME_PARSE_DATAS``
(/root/reference/src/data/datetime.rs:2575-5244; 173 entries, struct at
:988-1019). The reference's entries differ mostly by timezone form
(z/zc/zp numeric variants vs Z named) and bracket style; per its own TODO
(datetime.rs:2568-2574) we collapse numeric-tz variants with optional
regex groups. Named-tz variants stay SEPARATE entries ordered before the
plain (no-tz) variant of each family: a matched-but-unresolvable tz name
fails conversion and falls through to the plain entry — reproducing the
reference's "TZZ membership required by the regex" behavior through the
tzmap instead (functions/tzmap.py mirrors MAP_TZZ_TO_TZz exactly).

Family coverage (reference entry indices in brackets):

* samba/xrdp bracketed Y/m/d [0-5], compact xrdp, opentftp dd-Mon-yy [6]
* unanchored bracketed d-Mon-YYYY ± frac/tz [46-54]
* apache error.log bracketed ctime ± frac  [56-57]
* Windows setupact/WMI bracketed MM/DD/YYYY [26,55]
* pacman minute-precision [Y-m-d H:M]      [95]
* RFC 3339/5424 ± <pri>, all tz forms      [7-15,70-79,128-139]
* totem-pl '2017-05-14 04-00-07:'          [45]
* synology word-TAB                        (datetime.rs:3653)
* apt Log started / Start-Date             [24,44]
* exchange '--- START 2023\\2\\22 4:05:07 AM' [59]
* MRT 'Started On Thu Sep 10 10:08:35 2020' [25]
* Windows MM/DD/YYYY and MM/DD/YY          [comsetup, mrt]
* syslog month-name with trailing year     [16-23,27-33]
* RFC 3164 no-year syslog                  (datetime.rs:2793+)
* RFC 2822 'Mon, 28 Jun 2022 ...' ± Date:  [38-43,140-144]
* 'Sat Jan 01 2000 08:45:55 tz' ± level    [34-37,60-64]
* ctime orders: tz-year / year-tz / plain  [65-69,80-89,145-149]
* '2023 Aug 31 20:01:05 tz'                [90-94]
* dnf 'Jun-16 14:09:58 2000 tz' orders     [150-173]
* Red Hat Audit / strace epoch             [96-100]
* Apache/nginx CLF, tomcat, NTP MJD        (3452,3610,3048)
* Windows ReportingEvents ':fff' divider   [101]
* JSONL timestamp/datetime/logTime keys    [102-122]
* general unanchored fallbacks             [123-139]

Each entry embeds sample test cases like the reference's
``DateTimeParseInstr._test_cases`` (datetime.rs:1013-1015); additionally
ALL ~800 reference-embedded cases run as a parametrized matrix from
``tests/data/ref_dtpd_cases.json`` (extracted by
tools/extract_ref_cases.py), mirroring ``test_DATETIME_PARSE_DATAS``
(src/tests/datetime_tests.rs:261,297).

Semantics preserved (quirks included):

* table ORDER is the dispatch order; first match wins
  (datetime.rs:2517-2556);
* the datetime SPAN (dt_beg/dt_end) starts at the reference's first
  capture group — for weekday-led formats that means the WEEKDAY is part
  of the span (CGN_DAYa);
* years outside 1969/197x-20xx are NOT years (CGP_YEAR,
  datetime.rs:1760) — 'Jan 02 03:04:05 1900' gets the dummy year, the
  1900 is message text;
* patterns without a year fill the reference's dummy year **1972**
  (datetime.rs:146-155) unless a reference year is supplied — year
  inference then runs as a separate operator (operators/yearfix.py);
* patterns without a tz get the job's default offset (``--tz-offset``);
* fractional seconds are right-padded to 9 digits; Spark timestamps are
  µs so the ns remainder is carried in a separate ``ts_ns`` column;
* 2-digit years pivot like chrono ``%y``: 00-68 → 20xx, 69-99 → 19xx;
* month/weekday names match case-insensitively, full or abbreviated,
  optional trailing dot (CGP_MONTHBb/CGP_DAYa, datetime.rs:1778,1793);
* level-word prefixes use the reference's RP_LEVELS alternation order
  (datetime.rs:2477) — including its quirk that WARN precedes WARNING;
* the numeric-tz sign may be U+2212 MINUS (CGP_TZz, datetime.rs:1880);
* per-pattern byte-range slice (``range_regex``, datetime.rs:995-1008)
  becomes a character slice applied before regex.

Test-case expected values are given as ``(line, dt_beg, dt_end,
iso_utc_us, ns_rem)`` with dt offsets in characters (the corpus is
single-byte-ish but the engine is char-oriented; the reference is
byte-oriented).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# component fragments (named groups; one use per regex)
# ---------------------------------------------------------------------------
# CGP_YEAR (datetime.rs:1760): 1969 | 197x-199x | 20xx — other 4-digit
# numbers are NOT years
YEAR = r"(?P<year>1969|19[7-9]\d|20\d\d)"
YEAR2 = r"(?P<year2>\d{2})"
# numeric month, 2-digit alternatives first (leftmost-first regex)
MONTHm = r"(?P<month>1[0-2]|0[1-9]|[1-9])"
# month names: full first, then dotted abbreviations (CGP_MONTHBb)
MONTHB = (
    r"(?P<monthb>(?i:january|february|march|april|may|june|july|august|"
    r"september|october|november|december|"
    r"jan\.?|feb\.?|mar\.?|apr\.?|jun\.?|jul\.?|aug\.?|sep\.?|oct\.?|nov\.?|dec\.?))"
)
# day-of-month incl. space-padded %e forms (CGP_DAYde)
DAY = r"(?P<day>0[1-9]|[12]\d|3[01]|[1-9]| [1-9])"
HOUR = r"(?P<hour>[01]\d|2[0-4]|\d)"
MIN = r"(?P<minute>[0-5]\d)"
SEC = r"(?P<second>[0-5]\d|60)"
FRAC = r"(?P<frac>\d{1,9})"
# numeric tz: ±HHMM | ±HH:MM | ±HH | Z; sign may be U+2212 (CGP_TZz)
TZNUM = "(?P<tz>[+\\-\u2212][012]\\d(?::?[0-5]\\d)?|Z)"
# named tz: 2-5 letters, resolved (or rejected) via tzmap — the word
# boundary guard replaces the reference's exact CGP_TZZ alternation
TZNAME = r"(?P<tzname>[A-Za-z]{2,5})(?![A-Za-z])"
# weekday, full or 3-letter, optional dot (CGP_DAYa + RP_dcq)
WDAY = r"(?i:monday|tuesday|wednesday|thursday|friday|saturday|sunday|mon|tue|wed|thu|fri|sat|sun)\.?"
# RP_LEVELS (datetime.rs:2477) — alternation order preserved, PANIC is
# case-SENSITIVE in the reference
LEVELS = (
    r"(?:(?i:DEBUG\d|DEBUG|INFO\d|INFO|ERROR\d|ERROR|ERR|TRACE\d|TRACE|"
    r"WARN\d|WARN|WARNING|VERBOSE\d|VERBOSE|EMERGENCY|EMERG|NOTICE|CRIT|"
    r"CRITICAL|ALERT\d|ALERT)|PANIC)"
)
PRI = r"<\d{1,3}>"  # RFC 3164/5424 priority; max 191 (rsyslog LOG_MAXPRI)
LB = r"[\[\(\{<]"  # left bracket family accepted by the reference
RB = r"[\]\)\}>]"
B12 = r"[ \t]{1,2}"  # RP_BLANK12
# trailing guards (reference RP_NODIGIT / RP_NOALNUM / RP_NOALPHA as
# zero-width lookaheads — nothing outside the dt group is consumed)
ND = r"(?=\D|$)"  # no digit follows
NA = r"(?![A-Za-z])"
NAN = r"(?![0-9A-Za-z])"
NANPM = r"(?![0-9A-Za-z+\-])"
NAB = r"(?:^|(?<=[^A-Za-z]))"  # RP_NOALPHAb as lookbehind
NANB = r"(?:^|(?<=[0-9_\W]))"  # RP_NOALNUMb-ish (non-alpha, non-digit before)

# shared anchored PREFILTERS — parse_series caches each distinct
# prefilter's row mask per batch, so entries sharing a string cost ONE
# vectorized scan together (the all-miss path with 52 entries would
# otherwise run ~30 per-entry Python regex loops; measured 4-8× on
# digit-bearing no-datetime lines). Each must be a SUPERSET of its
# entries' accepting prefixes.
PF_YMD = r"^[\[\(\{<]{0,2}(?:<\d{1,3}> ?)?(?:1969|19[7-9]\d|20\d\d)"
PF_MONTH_LED = r"^(?:<\d{1,3}> ?)?(?i:jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)"
PF_WD_OR_MONTH = r"^(?:<\d{1,3}> ?)?(?:(?i:mon|tue|wed|thu|fri|sat|sun)[A-Za-z]*\.?,? )?(?i:jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)"
PF_MDY = r"^\d{1,2}/ ?\d{1,2}/\d{2}"  # ' ?': DAY admits a space-padded day
PF_5DIGIT = r"^\d{5}"
PF_LEVEL = r"^[\[\(]?(?i:debug|info|error|err|trace|warn|verbose|emerg|notice|crit|alert|panic)"


@dataclass(frozen=True)
class DTPD:
    """One datetime-parse instruction (≙ reference DateTimeParseInstr)."""

    name: str
    regex: str  # must contain named group 'dt' spanning the datetime text
    slice_lo: int = 0
    slice_hi: int = 64
    has_year: bool = True  # False → dummy-year fill + year-inference eligible
    epoch: bool = False  # 'epoch' group = seconds (+ optional 'frac')
    mjd: bool = False  # 'mjd' + 'sod_i'/'sod_f' groups (NTP statistics)
    # cheap rejection before the full regex (≙ ezcheck, reference
    # syslinereader.rs:1077-1187): a LITERAL the line must contain (memchr
    # -fast via pandas str.contains(regex=False)), or a tiny regex when
    # prefilter_regex=True. Mostly valuable for UNANCHORED patterns whose
    # full regex would otherwise scan every byte of every line.
    prefilter: str | None = None
    prefilter_regex: bool = False
    # match the prefilter against a per-batch LOWERCASED copy of the text
    # (computed once, shared): python re's (?i:...) alternations scan
    # ~4× slower than the same lowercase alternation on lowered text
    prefilter_lower: bool = False
    # embedded test cases: (line, dt_beg, dt_end, iso_utc_microseconds, ns_rem)
    # expected values assume default tz +00:00 and default year 1972
    test_cases: tuple = field(default_factory=tuple)


# ---------------------------------------------------------------------------
# the table — ORDER IS SEMANTICS (first match wins)
# ---------------------------------------------------------------------------
DATETIME_PARSE_DATAS: list[DTPD] = [
    # -- samba/xrdp bracketed Y/m/d, tz variants (datetime.rs entries 0-5)
    DTPD(
        name="bracketed_ymd_named_tz",
        regex=rf"^{LB}(?P<dt>{YEAR}[/\- ]?{MONTHm}[/\- ]?{DAY}[ T\-:]?{HOUR}:?{MIN}:?{SEC}(?:[\.,]{FRAC})? ?{TZNAME}){RB}",
        slice_lo=0,
        slice_hi=48,
        prefilter=PF_YMD, prefilter_regex=True,
        test_cases=(
            ("<2000/01/01 00:00:05.123456789 PST> ../source3/smbd/oplock.c:1340(init_oplocks)", 1, 34, "2000-01-01T08:00:05.123456", 789),
            ("<2000/01/01 00:00:05.123456789pst> ../source3/smbd/oplock.c", 1, 33, "2000-01-01T08:00:05.123456", 789),
            ("(2000/01/01 00:00:05.123456789 VLAT) x", 1, 35, "1999-12-31T14:00:05.123456", 789),
        ),
    ),
    DTPD(
        name="bracketed_ymd_num_tz",
        regex=rf"^{LB}(?P<dt>{YEAR}[/\- ]?{MONTHm}[/\- ]?{DAY}[ T\-:]?{HOUR}:?{MIN}:?{SEC}(?:[\.,]{FRAC})? ?{TZNUM}){RB}",
        slice_lo=0,
        slice_hi=48,
        prefilter=PF_YMD, prefilter_regex=True,
        test_cases=(
            ("(2000/01/01 00:00:02.123 -1100) ../source3/smbd/oplock.c:1340(init_oplocks)", 1, 30, "2000-01-01T11:00:02.123000", 0),
            ("{2000/01/01 00:00:03.123456789 -11:30} x", 1, 37, "2000-01-01T11:30:03.123456", 789),
            ("(2000/01/01 00:00:04.123456789 -11)", 1, 34, "2000-01-01T11:00:04.123456", 789),
        ),
    ),
    DTPD(
        name="bracketed_ymd",
        regex=rf"^{LB}(?P<dt>{YEAR}[/\- ]?{MONTHm}[/\- ]?{DAY}[ T\-:]?{HOUR}:?{MIN}:?{SEC}(?:[\.,]{FRAC})?)(?:[,\.\| \t][^\]\)\}}>]{{0,20}})?{RB}",
        slice_lo=0,
        slice_hi=48,
        prefilter=PF_YMD, prefilter_regex=True,
        test_cases=(
            ("[2000/01/01 00:00:01.123] ../source3/smbd/oplock.c:1340(init_oplocks)", 1, 24, "2000-01-01T00:00:01.123000", 0),
            ("[2000/01/01 00:00:01.123456789] x", 1, 30, "2000-01-01T00:00:01.123456", 789),
            ("[2020/03/05 12:17:59.631000,  3] ../source3/smbd/oplock.c:1340(init_oplocks)", 1, 27, "2020-03-05T12:17:59.631000", 0),
            ("[2020-01-13-11:03:06] [DEBUG] Closed socket 7", 1, 20, "2020-01-13T11:03:06.000000", 0),
            ("[20200113-11:03:06] [DEBUG] Closed socket 7 (AF_INET6 :: port 3389)", 1, 18, "2020-01-13T11:03:06.000000", 0),
        ),
    ),
    # -- opentftp [22-Feb-17 21:24:20] 2-digit year (datetime.rs entry 6)
    DTPD(
        name="bracketed_dby",
        regex=rf"^{LB}(?P<dt>{DAY}[\- /]{MONTHB}[\- /]{YEAR2} {HOUR}:{MIN}:{SEC}){RB}",
        slice_lo=0,
        slice_hi=24,
        # ' ?' because DAY admits a space-padded day (' 2') — the
        # prefilter must stay a SUPERSET of the regex's accepting prefixes
        # or results become batch-size-dependent (the >32-row gate)
        prefilter=r"^[\[\(\{<] ?\d", prefilter_regex=True,
        test_cases=(
            ("[22-Feb-17 21:24:20] Section [ALLOWED-CLIENTS] Invalid entry", 1, 19, "2017-02-22T21:24:20.000000", 0),
            ("[ 2-Feb-17 21:24:20] Section [ALLOWED-CLIENTS] Invalid entry", 1, 19, "2017-02-02T21:24:20.000000", 0),
        ),
    ),
    # -- unanchored bracketed d-Mon-YYYY ± frac ± tz (entries 46-54; the
    #    synobackup '<11-oct-2022 00:10:26.1>' tab-embedded variant)
    DTPD(
        name="bracketed_bdY_tz",
        regex=rf"{LB}(?P<dt>{DAY}[\- /]?{MONTHB}[\- /]?{YEAR}[ T\-:]?{HOUR}:?{MIN}:?{SEC}(?:[\.,]{FRAC})? ?(?:{TZNUM}|{TZNAME}))[ \t]*{RB}",
        slice_lo=0,
        slice_hi=300,
        prefilter=r"[\[\(\{<] ?\d{1,2}[\- /]?[A-Za-z]", prefilter_regex=True,
        test_cases=(
            ("img_backup\t<11-oct-2022 00:10:26 +0100> Backup task started.", 12, 38, "2022-10-10T23:10:26.000000", 0),
            ('192.168.0.115 - - [08/Oct/2022:22:26:35 +0000] "GET / HTTP/1.1" 404 0 "-"', 19, 45, "2022-10-08T22:26:35.000000", 0),
            ('192.168.0.172 - - [11/Oct/2022:00:10:26 +0100] "GET / HTTP/1.0" 200 3343', 19, 45, "2022-10-10T23:10:26.000000", 0),
        ),
    ),
    DTPD(
        name="bracketed_bdY",
        regex=rf"{LB}(?P<dt>{DAY}[\- /]?{MONTHB}[\- /]?{YEAR}[ T\-:]?{HOUR}:?{MIN}:?{SEC}(?:[\.,]{FRAC})?)[ \t]*{RB}",
        slice_lo=0,
        slice_hi=300,
        prefilter=r"[\[\(\{<] ?\d{1,2}[\- /]?[A-Za-z]", prefilter_regex=True,
        test_cases=(
            ("img_backup\t<11-oct-2022 00:10:26.1> Backup task started.", 12, 34, "2022-10-11T00:10:26.100000", 0),
        ),
    ),
    # -- apache error.log bracketed ctime ± fractional (entries 56-57):
    #    [Mon Oct 10 23:56:29.204202 2022] — span includes the weekday
    DTPD(
        name="bracketed_wd_bd_hms_y",
        regex=rf"{LB}(?P<dt>{WDAY} {MONTHB} {DAY}[ \t]+{HOUR}:{MIN}:{SEC}(?:[\.,]{FRAC})? {YEAR}){RB}",
        slice_lo=0,
        slice_hi=300,
        prefilter=r"[\[\(\{<](?:mon|tue|wed|thu|fri|sat|sun)", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("[Mon Oct 10 23:56:29.204202 2022] [mpm_event:notice] [pid 11709] AH00489: Apache/2.4.54", 1, 32, "2022-10-10T23:56:29.204202", 0),
            ("[Mon Oct 10 23:56:29 2022] [mpm_event:notice] [pid 11709] AH00489", 1, 25, "2022-10-10T23:56:29.000000", 0),
        ),
    ),
    # -- Windows setupact/WMI/WudfCoInstaller bracketed MM/DD/YYYY
    #    (entries 26, 55): (05/27/2020-12:25:43.0877) / [02/21/2023 07:07.05.262]
    DTPD(
        name="bracketed_mdY",
        regex=rf"{LB}(?P<dt>{MONTHm}[/\- ]{DAY}[/\- ]{YEAR}[ T\-]{HOUR}:{MIN}[:\.]{SEC}(?:[\.,]{FRAC})?){RB}",
        slice_lo=0,
        slice_hi=300,
        # ' ?' after the divider: DAY admits a space-padded day ('05/ 8/')
        prefilter=r"[\[\(\{<]\d{1,2}[/\- ] ?\d", prefilter_regex=True,
        test_cases=(
            ("(05/27/2020-12:25:43.0877) Total number of objects successfully migrated :2346", 1, 25, "2020-05-27T12:25:43.087700", 0),
            ("(05/ 8/2020-12:25:43.0877) Filtering object", 1, 25, "2020-05-08T12:25:43.087700", 0),
            ("[02/21/2023 07:07.05.262] WudfCoInstaller: Configuring UMDF Service WpdFs.", 1, 24, "2023-02-21T07:07:05.262000", 0),
            ("(08/10/2019-01:46:44.0042) Filtering object", 1, 25, "2019-08-10T01:46:44.004200", 0),
        ),
    ),
    # -- pacman minute-precision [2018-05-31 12:19] (entry 95)
    DTPD(
        name="bracketed_ymd_hm",
        regex=rf"^\[(?P<dt>{YEAR}[/\-]{MONTHm}[/\-]{DAY}[ T]?{HOUR}:{MIN})\]",
        slice_lo=0,
        slice_hi=24,
        prefilter=PF_YMD, prefilter_regex=True,
        test_cases=(
            ("[2018-05-31 12:19] [PACMAN] synchronizing package lists", 1, 17, "2018-05-31T12:19:00.000000", 0),
        ),
    ),
    # -- RFC 3339/5424 syslog, optional <pri>, tz variants (entries 7-15,
    #    70-79); separators/dividers per reference D_Dq/D_DHcdq (optional,
    #    so compact '20000113T...' also parses)
    DTPD(
        name="rfc3339_num_tz",
        regex=rf"^(?:{PRI} ?)?(?P<dt>{YEAR}[\-/ ]?{MONTHm}[\-/ ]?{DAY}[T \-:]?{HOUR}:?{MIN}:?{SEC}(?:[\.,]{FRAC})? ?{TZNUM}){ND}",
        slice_lo=0,
        slice_hi=56,
        prefilter=PF_YMD, prefilter_regex=True,
        test_cases=(
            ("<31>2023-01-06T14:35:00.506282-08:00 (host) (192.168.0.1) [unbound[63893] daemon:debug]", 4, 36, "2023-01-06T22:35:00.506282", 0),
            ("<31>2023-01-06T14:35:00.506282+0800 (host)", 4, 35, "2023-01-06T06:35:00.506282", 0),
            ("2023-01-06T14:35:00.506282871 +0800 host", 0, 35, "2023-01-06T06:35:00.506282", 871),
            ("2020-01-01T00:00:00Z start", 0, 20, "2020-01-01T00:00:00.000000", 0),
            ("2023-06-15 10:20:30.5 -07:00 done", 0, 28, "2023-06-15T17:20:30.500000", 0),
            ("2000/01/09 00:00:04 -11 abcdefghij", 0, 23, "2000-01-09T11:00:04.000000", 0),
            ("2000-01-08-00:00:03 -11:30 abcdefghi", 0, 26, "2000-01-08T11:30:03.000000", 0),
        ),
    ),
    DTPD(
        name="rfc3339_named_tz",
        regex=rf"^(?:{PRI} ?)?(?P<dt>{YEAR}[\-/ ]?{MONTHm}[\-/ ]?{DAY}[T \-:]?{HOUR}:?{MIN}:?{SEC}(?:[\.,]{FRAC})? ?{TZNAME})",
        slice_lo=0,
        slice_hi=56,
        prefilter=PF_YMD, prefilter_regex=True,
        test_cases=(
            ("2023-01-06 14:35:00.506 PST host app: msg", 0, 27, "2023-01-06T22:35:00.506000", 0),
            ("2023-01-06 14:35:00 UTC host", 0, 23, "2023-01-06T14:35:00.000000", 0),
            ("<29>2023-02-01T14:21:13CIST (HOST) (192.168.0.1)", 4, 27, "2023-02-01T22:21:13.000000", 0),
            ("2000/01/10T00:09:05 VLAT abcdefghijk", 0, 24, "2000-01-09T14:09:05.000000", 0),
        ),
    ),
    DTPD(
        name="rfc3339",
        regex=rf"^(?:{PRI} ?)?(?P<dt>{YEAR}[\-/ ]?{MONTHm}[\-/ ]?{DAY}[T \-:]?{HOUR}:?{MIN}:?{SEC}(?:[\.,]{FRAC})?)",
        slice_lo=0,
        slice_hi=56,
        prefilter=PF_YMD, prefilter_regex=True,
        test_cases=(
            ("2020-01-01 00:20:00.000001 a message", 0, 26, "2020-01-01T00:20:00.000001", 0),
            ("<29>2023-01-01 14:21:13 HOST netifd: Network device 'eth0' link is up", 4, 23, "2023-01-01T14:21:13.000000", 0),
            ("2020-06-06 07:37:07,depth,1 INFO", 0, 19, "2020-06-06T07:37:07.000000", 0),
            ("2020-1-11 0:10:26 abcdefghijkl 0", 0, 17, "2020-01-11T00:10:26.000000", 0),
        ),
    ),
    # -- totem-pl-parser '2017-05-14 04-00-07:' — dash time dividers with
    #    a REQUIRED trailing colon (entry 45)
    DTPD(
        name="ymd_hms_dash_colon",
        regex=rf"^(?P<dt>{YEAR}[\-/ ]?{MONTHm}[\-/ ]?{DAY}[ T\-:]?{HOUR}[:\-]?{MIN}[:\-]?{SEC}):(?: |$)",
        slice_lo=0,
        slice_hi=30,
        prefilter=PF_YMD, prefilter_regex=True,
        test_cases=(
            ("2017-05-14 04-00-07: up", 0, 19, "2017-05-14T04:00:07.000000", 0),
        ),
    ),
    # -- synology/word-prefix tab format (datetime.rs:3653): dt after one token + tab
    DTPD(
        name="word_tab_ymd",
        regex=rf"^[\w\-\.]{{1,16}}\t(?P<dt>{YEAR}[/\-]{MONTHm}[/\-]{DAY}[ T]{HOUR}:{MIN}:{SEC}(?:[\.,]{FRAC})?)",
        slice_lo=0,
        slice_hi=48,
        prefilter="\t", prefilter_regex=False,
        test_cases=(("info\t2018/02/24 02:30:04\tSYSTEM:\t[Local]UPS was plugged in.", 5, 24, "2018-02-24T02:30:04.000000", 0),),
    ),
    # -- apt history / dpkg log: 'Start-Date: Y-m-d  H:M:S', 'Log started:'
    #    (entries 24, 44)
    DTPD(
        name="startdate_ymd",
        regex=rf"^(?:(?i:log) (?i:started|ended)|(?i:start|end)[\- ]?(?i:date)):?\s{{0,2}}(?P<dt>{YEAR}-{MONTHm}-{DAY}[T\s]\s?{HOUR}:{MIN}:{SEC}){NAN}",
        slice_lo=0,
        slice_hi=48,
        prefilter=r"^(?i:log|start|end)", prefilter_regex=True,
        test_cases=(
            ("Start-Date: 2022-07-18  19:34:46", 12, 32, "2022-07-18T19:34:46.000000", 0),
            ("End-Date: 2022-07-18  19:35:04", 10, 30, "2022-07-18T19:35:04.000000", 0),
            ("Log started: 2022-07-14  06:48:58", 13, 33, "2022-07-14T06:48:58.000000", 0),
        ),
    ),
    # -- exchange-style '--- START 2023\2\22 4:05:07 AM ---' (entry 59):
    #    backslash separators, 1-digit month/hour, meridiem
    DTPD(
        name="start_end_ampm",
        regex=rf"{NANB}(?i:START|END)[ \t]*:?[ \t]*(?P<dt>{YEAR}[ /\-\\]?{MONTHm}[ /\-\\]?{DAY}[ T\-:_]?{HOUR}:{MIN}:{SEC})(?: (?i:AM|PM))?{ND}",
        slice_lo=0,
        slice_hi=1024,
        prefilter=r"(?:start|end)", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            (r"59805625 (9340) - exe\logging.cpp:0841: --- START 2023\2\22 4:05:07 AM ---1", 50, 67, "2023-02-22T04:05:07.000000", 0),
            (r"59810625 (9340) - exe\logging.cpp:0841: --- END 2023\2\22 4:05:07 PM ---1", 48, 65, "2023-02-22T04:05:07.000000", 0),
        ),
    ),
    # -- MRT 'Started On Thu Sep 10 10:08:35 2020' (entry 25) — span from
    #    the weekday
    DTPD(
        name="started_on_wd",
        regex=rf"(?i:started|finished)(?: (?i:on))?:? (?P<dt>{WDAY} {MONTHB} {DAY} {HOUR}:{MIN}:{SEC} {YEAR}){ND}",
        slice_lo=0,
        slice_hi=140,
        prefilter=r"(?:started|finished)", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("Started On Thu Sep 10 10:08:35 2020", 11, 35, "2020-09-10T10:08:35.000000", 0),
            ("Microsoft Windows Malicious Software Removal Tool Finished On Tue Nov 01 17:17:42 2022", 62, 86, "2022-11-01T17:17:42.000000", 0),
        ),
    ),
    # -- Windows MM/DD/YYYY (comsetup.log) and MM/DD/YY (mrt.log)
    DTPD(
        name="windows_mdy4",
        regex=rf"^(?P<dt>{MONTHm}/{DAY}/{YEAR} {HOUR}:{MIN}:{SEC}(?:[\.,]{FRAC})?)[: ]",
        slice_lo=0,
        slice_hi=32,
        prefilter=PF_MDY, prefilter_regex=True,
        test_cases=(
            ("03/18/2021 19:15:16: COMSETUP: === Microsoft COM+ Setup Started ===", 0, 19, "2021-03-18T19:15:16.000000", 0),
            ("03/ 8/2021 19:15:16: COMSETUP: === Microsoft COM+ Setup Started ===", 0, 19, "2021-03-08T19:15:16.000000", 0),
        ),
    ),
    DTPD(
        name="windows_mdy",
        regex=rf"^(?P<dt>{MONTHm}/{DAY}/{YEAR2} {HOUR}:{MIN}:{SEC}(?:[\.,]{FRAC})?)[: ]",
        slice_lo=0,
        slice_hi=32,
        prefilter=PF_MDY, prefilter_regex=True,
        test_cases=(("11/01/19 20:03:40: infinst: Installed file C:\\WINDOWS\\inf\\oem2.inf", 0, 17, "2019-11-01T20:03:40.000000", 0),),
    ),
    # -- syslog month-name with TRAILING year (entries 16-23, 27-31):
    #    '<pri>Jan  1 15:00:36 2023 [tz]' — year-bearing entries must come
    #    before the no-year RFC 3164 fallback
    DTPD(
        name="syslog_bdhms_y_tz",
        regex=rf"^(?:{PRI} ?)?(?P<dt>{MONTHB} +{DAY} {HOUR}:{MIN}:{SEC} +{YEAR} ?(?:{TZNUM}|{TZNAME})){ND}",
        slice_lo=0,
        slice_hi=44,
        prefilter=PF_MONTH_LED, prefilter_regex=True,
        test_cases=(
            ("<14>Jan  1 15:00:36 2023 -02:00 HOST dropbear[23732]: Exit (root)", 4, 31, "2023-01-01T17:00:36.000000", 0),
            ("<14>Jan  1 15:00:36 2023 WGST HOST dropbear[23732]: Exit (root)", 4, 29, "2023-01-01T17:00:36.000000", 0),
            ("September 03 08:10:29 2000 PWT hostname1 kernel: [1013319.252568] device vethb356a02", 0, 30, "2000-09-02T23:10:29.000000", 0),
        ),
    ),
    DTPD(
        name="syslog_bdhms_tz_y",
        regex=rf"^(?:{PRI} ?)?(?P<dt>{MONTHB} +{DAY} {HOUR}:{MIN}:{SEC} +(?:{TZNUM}|{TZNAME}) +{YEAR}){ND}",
        slice_lo=0,
        slice_hi=44,
        prefilter=PF_MONTH_LED, prefilter_regex=True,
        test_cases=(
            ("<14>Jan  1 15:00:36 -02:00 2023 HOST dropbear[23732]: Exit (root)", 4, 31, "2023-01-01T17:00:36.000000", 0),
            ("<14>Jan  1 15:00:36 WGST 2023 HOST dropbear[23732]: Exit (root)", 4, 29, "2023-01-01T17:00:36.000000", 0),
        ),
    ),
    DTPD(
        name="syslog_bdhms_y",
        regex=rf"^(?:{PRI} ?)?(?P<dt>{MONTHB} +{DAY} {HOUR}:{MIN}:{SEC} +{YEAR}){NAN}",
        slice_lo=0,
        slice_hi=40,
        prefilter=PF_MONTH_LED, prefilter_regex=True,
        test_cases=(
            ("<14>Jan  1 15:00:36 2023 HOST dropbear[23732]: Exit (root): Disconnect received", 4, 24, "2023-01-01T15:00:36.000000", 0),
            ("September 03 08:10:29 2000:hostname1 kernel: [1013319.252568]", 0, 26, "2000-09-03T08:10:29.000000", 0),
        ),
    ),
    # -- month-name time then NAMED tz, no year (entry 32):
    #    'September 03 08:10:29 PWT hostname1 ...'
    DTPD(
        name="syslog_bdhms_tz",
        regex=rf"^(?:{PRI} ?)?(?P<dt>{MONTHB} +{DAY} {HOUR}:{MIN}:{SEC} ?(?:{TZNUM}|{TZNAME})){NA}",
        slice_lo=0,
        slice_hi=40,
        prefilter=PF_MONTH_LED, prefilter_regex=True,
        has_year=False,
        test_cases=(
            ("September 03 08:10:29 PWT hostname1 kernel: [1013319.252568] device vethb356a02 entered", 0, 25, "1972-09-02T23:10:29.000000", 0),
            ("Jan 2 03:04:05 PWT \U0001F600", 0, 18, "1972-01-01T18:04:05.000000", 0),
        ),
    ),
    # -- RFC 3164 syslog, no year, optional <pri> (datetime.rs:2793+; year
    #    logic /root/reference/src/readers/syslogprocessor.rs:604)
    DTPD(
        name="rfc3164_noyear",
        regex=rf"^(?:{PRI} ?)?(?P<dt>{MONTHB} +{DAY} {HOUR}:{MIN}:{SEC}(?:[\.,]{FRAC})?)(?:[^\d]|$)",
        slice_lo=0,
        slice_hi=40,
        prefilter=PF_MONTH_LED, prefilter_regex=True,
        has_year=False,
        test_cases=(
            ("<14>Jan  1 15:00:36 HOST dropbear[23732]: Exit (root): Disconnect received", 4, 19, "1972-01-01T15:00:36.000000", 0),
            ("Dec 31 23:59:59 host kernel: wrap", 0, 15, "1972-12-31T23:59:59.000000", 0),
            ("Jan  1 00:00:00 host kernel: wrapped", 0, 15, "1972-01-01T00:00:00.000000", 0),
            ("September 03 08:10:29 hostname1 kernel: [1013319.252568] device", 0, 21, "1972-09-03T08:10:29.000000", 0),
            ("Jan 02 03:04:05 1900 \U0001F600", 0, 15, "1972-01-02T03:04:05.000000", 0),
        ),
    ),
    # -- RFC 2822 'Mon, 28 Jun 2022 01:51:12 +1230', optional 'Date:'
    #    prefix (entries 38-43, 141-144 unanchored) — span from weekday
    DTPD(
        name="wd_dby_hms_tz",
        regex=rf"{NAB}(?:(?i:date): ?)?(?P<dt>{WDAY},? {DAY} {MONTHB},?{B12}{YEAR},?{B12}{HOUR}:{MIN}:{SEC}(?:[\.,]{FRAC})?{B12}(?:{TZNUM}|{TZNAME})){ND}",
        slice_lo=0,
        slice_hi=64,
        prefilter=r"(?:mon|tue|wed|thu|fri|sat|sun)[a-z]*\.?,?[ \t]", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("Mon, 28 Jun 2022 01:51:12 +1230", 0, 31, "2022-06-27T13:21:12.000000", 0),
            ("Date:\tMon, 28 Jun 2022 01:51:12 +01:30 a", 6, 38, "2022-06-28T00:21:12.000000", 0),
            ("Mon, 28 Jun 2022 01:51:12 WIT", 0, 29, "2022-06-27T16:51:12.000000", 0),
            ("Tue, 03 May 2022 01:02:03 +0200 body", 0, 31, "2022-05-02T23:02:03.000000", 0),
            ("Wed, 1 Jan 2020 22:00:00 PST message", 0, 28, "2020-01-02T06:00:00.000000", 0),
        ),
    ),
    DTPD(
        name="wd_dby_hms",
        regex=rf"{NAB}(?:(?i:date): ?)?(?P<dt>{WDAY},? {DAY} {MONTHB},?{B12}{YEAR},?{B12}{HOUR}:{MIN}:{SEC}(?:[\.,]{FRAC})?){NAN}",
        slice_lo=0,
        slice_hi=64,
        prefilter=r"(?:mon|tue|wed|thu|fri|sat|sun)[a-z]*\.?,?[ \t]", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("Wed 1 Jan 2020 22:00:00 message", 0, 23, "2020-01-01T22:00:00.000000", 0),
        ),
    ),
    # -- 'Sat Jan 01 2000 08:45:55 [tz]' ± level prefix (entries 34-37,
    #    60-64, 140-144) — weekday, month, day, YEAR, time
    DTPD(
        name="wd_bdy_hms_tz",
        regex=rf"{NAB}(?:{LEVELS}:?[ \t]*)?(?P<dt>{WDAY},?{B12}{MONTHB} {DAY},?{B12}{YEAR},?{B12}{HOUR}:{MIN}:{SEC}[ \t]{{0,2}}(?:{TZNUM}|{TZNAME})){ND}",
        slice_lo=0,
        slice_hi=1024,
        prefilter=r"(?:mon|tue|wed|thu|fri|sat|sun)[a-z]*\.?,?[ \t]", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("TRACE:\tSat Jan 01 2000 08:45:55 +09:00 TRACE: \u21e5 \u00d71\u203c", 7, 38, "1999-12-31T23:45:55.000000", 0),
            ("mon Jun 28 2022 01:51:12 +1230", 0, 30, "2022-06-27T13:21:12.000000", 0),
            ("Saturday, Jun 28 2022 01:51:12 WIT", 0, 34, "2022-06-27T16:51:12.000000", 0),
            ("RSYSLOG Tuesday Jun 28 2022 01:51:12 +1230", 8, 42, "2022-06-27T13:21:12.000000", 0),
        ),
    ),
    DTPD(
        name="wd_bdy_hms",
        regex=rf"{NAB}(?:{LEVELS}:?[ \t]*)?(?P<dt>{WDAY},?{B12}{MONTHB} {DAY},?{B12}{YEAR},?{B12}{HOUR}:{MIN}:{SEC}){ND}",
        slice_lo=0,
        slice_hi=1024,
        prefilter=r"(?:mon|tue|wed|thu|fri|sat|sun)[a-z]*\.?,?[ \t]", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("TRACE:\tSat Jan 31 2000 08:45:55 TRACE: \u21e5 \u00d71\u203c", 7, 31, "2000-01-31T08:45:55.000000", 0),
            ("LOGGR Tuesday, Jun 28 2022 01:51:12 ", 6, 35, "2022-06-28T01:51:12.000000", 0),
        ),
    ),
    # -- ctime with tz BEFORE year: 'Mon Dec 5 21:01:12 PST 2016'
    #    (entries 80-83, 160-163 — upstart umount-root-fs, Issue #44)
    DTPD(
        name="wd_bd_hms_tz_y",
        regex=rf"{NAB}(?P<dt>{WDAY},?{B12}{MONTHB}[ /\-] ?{DAY} {HOUR}:{MIN}:{SEC}{B12}(?:{TZNUM}|{TZNAME}){B12}{YEAR}){NAN}",
        slice_lo=0,
        slice_hi=96,
        prefilter=r"(?:mon|tue|wed|thu|fri|sat|sun)[a-z]*\.?,?[ \t]", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("Mon Dec 5 21:01:12 PST 2016 try umount root [1] times", 0, 27, "2016-12-06T05:01:12.000000", 0),
            ("Mon Dec 5 21:01:12 -0000 2016 try umount root [1] times", 0, 29, "2016-12-05T21:01:12.000000", 0),
        ),
    ),
    # -- ctime with year THEN tz: 'Thu Feb 27 00:33:59 2020 -07:00'
    #    (entries 65-68, 84-87, 145-148 — apport lines have a level+text
    #    prefix, handled by the unanchored NAB)
    DTPD(
        name="wd_bd_hms_y_tz",
        regex=rf"{NAB}(?P<dt>{WDAY},?{B12}{MONTHB}[ /\-] ?{DAY} {HOUR}:{MIN}:{SEC}{B12}{YEAR}{B12}(?:{TZNUM}|{TZNAME})){ND}",
        slice_lo=0,
        slice_hi=1024,
        prefilter=r"(?:mon|tue|wed|thu|fri|sat|sun)[a-z]*\.?,?[ \t]", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("ERROR: apport (pid 9) Thu Feb 27 00:33:59 2020 -07:00: called for pid 8581", 22, 53, "2020-02-27T07:33:59.000000", 0),
            ("Mon Dec 5 21:01:12 2016 PST try umount root [1] times", 0, 27, "2016-12-06T05:01:12.000000", 0),
        ),
    ),
    DTPD(
        name="wd_bd_hms_y",
        regex=rf"{NAB}(?P<dt>{WDAY},?{B12}{MONTHB}[ /\-] ?{DAY} {HOUR}:{MIN}:{SEC} {YEAR}){NAN}",
        slice_lo=0,
        slice_hi=1024,
        prefilter=r"(?:mon|tue|wed|thu|fri|sat|sun)[a-z]*\.?,?[ \t]", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("Sat Oct 03 11:26:12 2020 0 192.168.0.8 0 /var/log/proftpd/xferlog b _ o r root ftp", 0, 24, "2020-10-03T11:26:12.000000", 0),
            ("ERROR: apport (pid 5009) Thu Aug  4 00:30:28 2022: called for pid 1549", 25, 49, "2022-08-04T00:30:28.000000", 0),
        ),
    ),
    # -- 'YYYY Mon DD H:M:S [tz]' (entries 90-94; logs/other/tests/dtf14a.log)
    DTPD(
        name="ymd_b_tz",
        regex=rf"^(?P<dt>{YEAR}{B12}{MONTHB}{B12}{DAY}{B12}{HOUR}:{MIN}:{SEC}(?:[\.,]{FRAC})?{B12}(?:{TZNUM}|{TZNAME})){NAN}",
        slice_lo=0,
        slice_hi=40,
        prefilter=PF_YMD, prefilter_regex=True,
        test_cases=(
            ("2023 Aug 31 20:01:05 UTC [ERROR] dev-disk-a error 0x08320105", 0, 24, "2023-08-31T20:01:05.000000", 0),
            ("2023 Aug 31 20:01:05 -00:00 [ERROR] dev-disk-a error 0x08320105", 0, 27, "2023-08-31T20:01:05.000000", 0),
        ),
    ),
    DTPD(
        name="ymd_b",
        regex=rf"^(?P<dt>{YEAR}{B12}{MONTHB}{B12}{DAY}{B12}{HOUR}:{MIN}:{SEC}(?:[\.,]{FRAC})?){NAN}",
        slice_lo=0,
        slice_hi=32,
        prefilter=PF_YMD, prefilter_regex=True,
        test_cases=(
            ("2023 Aug 31 20:01:05 [ERROR] dev-disk-a error 0x08320105", 0, 20, "2023-08-31T20:01:05.000000", 0),
        ),
    ),
    # -- aptitude 'Mon DD YYYY HH:MM:SS [tz]' (datetime.rs:3206 family)
    DTPD(
        name="bdy_hms",
        regex=rf"^(?:(?:Mon|Tue|Wed|Thu|Fri|Sat|Sun)[a-z]*,? )?(?P<dt>{MONTHB} {DAY},? {YEAR} {HOUR}:{MIN}:{SEC}(?:[\.,]{FRAC})?(?: ?{TZNUM})?)",
        slice_lo=0,
        slice_hi=48,
        prefilter=PF_WD_OR_MONTH, prefilter_regex=True,
        test_cases=(
            ("January 01 2020 22:00:00 host app: msg", 0, 24, "2020-01-01T22:00:00.000000", 0),
            ("Aug 28 2022 01:51:12 +0000 log opened", 0, 26, "2022-08-28T01:51:12.000000", 0),
        ),
    ),
    # -- dnf/libdnf 'Jun-16 14:09:58 [2000] [tz]' ± level prefix, both
    #    year/tz orders (entries 150-173)
    DTPD(
        name="mb_d_hms_y_tz",
        regex=rf"{NAB}(?:{LEVELS}[ \t]*:?[ \t]*)?(?P<dt>{MONTHB}[\- /]{DAY}[ T\-:_]?{HOUR}:{MIN}:{SEC} {YEAR} (?:{TZNUM}|{TZNAME})){NAN}",
        slice_lo=0,
        slice_hi=400,
        prefilter=r"[a-z]{3,9}\.?[\- /] ?\d{1,2}[ t\-:_]?\d{1,2}:\d\d:", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("INFO Jun-16 14:09:58 2000 PDT === Started libdnf-0.31.0 ===", 5, 29, "2000-06-16T21:09:58.000000", 0),
            ("____ Jun-16 14:09:58 2000 -07:00 === Started libdnf-0.31.0 ===", 5, 32, "2000-06-16T21:09:58.000000", 0),
        ),
    ),
    DTPD(
        name="mb_d_hms_tz_y",
        regex=rf"{NAB}(?:{LEVELS}[ \t]*:?[ \t]*)?(?P<dt>{MONTHB}[\- /]{DAY}[ T\-:_]?{HOUR}:{MIN}:{SEC} (?:{TZNUM}|{TZNAME}) {YEAR}){NAN}",
        slice_lo=0,
        slice_hi=400,
        prefilter=r"[a-z]{3,9}\.?[\- /] ?\d{1,2}[ t\-:_]?\d{1,2}:\d\d:", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("____ Jun-16 14:09:58 PDT 2000 === Started libdnf-0.31.0 ===", 5, 29, "2000-06-16T21:09:58.000000", 0),
            ("INFO Jun-16 14:09:58 -07:00 2000 === Started libdnf-0.31.0 ===", 5, 32, "2000-06-16T21:09:58.000000", 0),
        ),
    ),
    DTPD(
        name="mb_d_hms_y",
        regex=rf"{NAB}(?:{LEVELS}[ \t]*:?[ \t]*)?(?P<dt>{MONTHB}[\- /]{DAY}[ T\-:_]?{HOUR}:{MIN}:{SEC} {YEAR}){NAN}",
        slice_lo=0,
        slice_hi=400,
        prefilter=r"[a-z]{3,9}\.?[\- /] ?\d{1,2}[ t\-:_]?\d{1,2}:\d\d:", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("INFO Jun-16 14:09:58 2000 === Started libdnf-0.31.0 ===", 5, 25, "2000-06-16T14:09:58.000000", 0),
        ),
    ),
    DTPD(
        name="mb_d_hms",
        regex=rf"{NAB}(?:{LEVELS}[ \t]*:?[ \t]*)?(?P<dt>{MONTHB}[\-/]{DAY}[ T\-:_]?{HOUR}:{MIN}:{SEC}){NAN}",
        slice_lo=0,
        slice_hi=400,
        has_year=False,
        prefilter=r"[a-z]{3,9}\.?[\-/] ?\d{1,2}[ t\-:_]?\d{1,2}:\d\d:", prefilter_regex=True, prefilter_lower=True,
        test_cases=(
            ("INFO Jun-16 14:09:58 === Started libdnf-0.31.0 ===", 5, 20, "1972-06-16T14:09:58.000000", 0),
        ),
    ),
    # -- Red Hat Audit type=... msg=audit(EPOCH.frac:id) — unanchored
    #    (entry 96; datetime.rs:4289)
    DTPD(
        name="redhat_audit",
        regex=r" msg=audit\((?P<dt>(?P<epoch>9\d{8}|[12]\d{9})\.(?P<frac>\d{3})):\d{1,5}\):",
        slice_lo=0,
        slice_hi=100,
        prefilter="audit(",
        epoch=True,
        test_cases=(("type=USER_LOGIN msg=audit(1609459200.123:456): pid=1337", 26, 40, "2021-01-01T00:00:00.123000", 0),),
    ),
    # -- strace/epoch-at-start with fraction (entries 97-99)
    DTPD(
        name="epoch_frac",
        regex=r"^(?P<dt>(?P<epoch>9\d{8}|[12]\d{9})[\.,](?P<frac>\d{3}(?:\d{3})?(?:\d{3})?))(?:\s)",
        slice_lo=0,
        slice_hi=29,
        prefilter=PF_5DIGIT, prefilter_regex=True,
        epoch=True,
        test_cases=(("1609459200.000123 read(3, \"...\", 1024) = 512", 0, 17, "2021-01-01T00:00:00.000123", 0),),
    ),
    # -- bare epoch seconds at start (entry 100)
    DTPD(
        name="epoch",
        regex=r"^(?P<dt>(?P<epoch>9\d{8}|[12]\d{9}))(?:\s)",
        slice_lo=0,
        slice_hi=19,
        prefilter=PF_5DIGIT, prefilter_regex=True,
        epoch=True,
        test_cases=(("1609459200 boot event", 0, 10, "2021-01-01T00:00:00.000000", 0),),
    ),
    # -- tomcat catalina.out: 'dd-MMM-yyyy H:M:S.fff' (entry 58)
    DTPD(
        name="tomcat_dby",
        regex=rf"^(?P<dt>{DAY}-{MONTHB}-{YEAR} {HOUR}:{MIN}:{SEC}(?:[\.,]{FRAC})?){NANPM}",
        slice_lo=0,
        slice_hi=32,
        # '^ ?' because DAY admits a space-padded day (' 8-Feb-2023')
        prefilter=r"^ ?\d{1,2}-(?i:[a-z])", prefilter_regex=True,
        test_cases=(
            ("08-Feb-2023 12:12:09.827 INFO [main] org.apache.coyote.AbstractProtocol.init", 0, 24, "2023-02-08T12:12:09.827000", 0),
            (" 8-Feb-2023 12:12:09.827 INFO [main] org.apache.coyote.AbstractProtocol.init", 0, 24, "2023-02-08T12:12:09.827000", 0),
        ),
    ),
    # -- NTP statistics files: modified Julian day + seconds past midnight
    #    UTC (datetime.rs:3048-3100)
    DTPD(
        name="ntp_mjd",
        regex=r"^(?P<dt>(?P<mjd>\d{5}) (?P<sod_i>\d{1,5})\.(?P<sod_f>\d{1,6}))\s",
        slice_lo=0,
        slice_hi=16,
        prefilter=PF_5DIGIT, prefilter_regex=True,
        mjd=True,
        test_cases=(
            ("59955 725.605 -0.002167105 47.876 0.012528010 1.558579 9", 0, 13, "2023-01-11T00:12:05.605000", 0),
        ),
    ),
    # -- Windows ReportingEvents.log: seconds-to-fractional divider is ':'
    #    (entry 101)
    DTPD(
        name="reporting_events",
        regex=rf"(?P<dt>{YEAR}-{MONTHm}-{DAY} {HOUR}:{MIN}:{SEC}:(?P<frac>\d{{3}}) ?{TZNUM})",
        slice_lo=0,
        slice_hi=96,
        # '- ?\d': DAY admits a space-padded day ('2022-10- 8')
        prefilter=r"(?:19|20)\d\d-\d{1,2}- ?\d{1,2} \d{1,2}:\d\d:\d\d:", prefilter_regex=True,
        test_cases=(
            ("{5F45546A-691D-4519-810C-9B159EA7A24F}  2022-10-12 09:26:44:980-0700    1       181", 40, 68, "2022-10-12T16:26:44.980000", 0),
            ("{5F45546A-691D-4519-810C-9B159EA7A24F}  2022-10- 8 09:26:44:980-0700    1       181", 40, 68, "2022-10-08T16:26:44.980000", 0),
        ),
    ),
    # -- JSONL timestamp fields (entries 102-121 + generic keys)
    DTPD(
        name="jsonl_timestamp_tz",
        regex=rf"\"(?i:@?timestamp|datetime|time|date|ts)\"\s*:\s*\"(?P<dt>{YEAR}[\-/ ]?{MONTHm}[\-/ ]?{DAY}[T \-:]?{HOUR}[:\-]?{MIN}[:\-]?{SEC}(?:[\.,]{FRAC})? ?(?:{TZNUM}|{TZNAME}))\"",
        slice_lo=0,
        slice_hi=2056,
        prefilter="\"",
        test_cases=(
            ('{"level":"INFO","message":"Started","timestamp":"2024-04-08T21:55:48.726Z"}', 49, 73, "2024-04-08T21:55:48.726000", 0),
            ('{"DATETIME": "2024-04-08 21:55:48 PST"}', 14, 37, "2024-04-09T05:55:48.000000", 0),
        ),
    ),
    DTPD(
        name="jsonl_timestamp",
        regex=rf"\"(?i:@?timestamp|datetime|time|date|ts)\"\s*:\s*\"(?P<dt>{YEAR}[\-/ ]?{MONTHm}[\-/ ]?{DAY}[T \-:]?{HOUR}[:\-]?{MIN}[:\-]?{SEC}(?:[\.,]{FRAC})?)\"",
        slice_lo=0,
        slice_hi=2056,
        prefilter="\"",
        test_cases=(
            ('{"ts": "2024-04-08 21:55:48"}', 8, 27, "2024-04-08T21:55:48.000000", 0),
        ),
    ),
    # -- Chrome cv_debug.log '"logTime": "MMDD/HHMMSS"' — no year
    #    (entry 122; divider class per D_DHcdqus)
    DTPD(
        name="chrome_logtime",
        regex=r"\"(?i:logtime)\"\s*:\s*\"(?P<dt>(?P<month>\d{2})(?P<day>\d{2})[ T/\\\-:_]?(?P<hour>\d{2})(?P<minute>\d{2})(?P<second>\d{2}))\"",
        slice_lo=0,
        slice_hi=512,
        has_year=False,
        prefilter="logtime", prefilter_lower=True,
        test_cases=(
            ('{"logTime": "0226/052726", "correlationVector":"C3BF38D097234ED3A46F33A1C497BF65"}', 13, 24, "1972-02-26T05:27:26.000000", 0),
        ),
    ),
    # -- '[LEVEL] Y-m-d H:M:S ±tz' (bracketed level word then rfc3339;
    #    vmware-installer family, datetime.rs:3022-3040)
    DTPD(
        name="level_rfc3339",
        regex=rf"^[\[\(]?{LEVELS}[\]\)]?:? (?P<dt>{YEAR}-{MONTHm}-{DAY}[T ]{HOUR}:{MIN}:{SEC}(?:[\.,]{FRAC})?(?: ?{TZNUM})?)(?:[^\d]|$)",
        slice_lo=0,
        slice_hi=64,
        prefilter=PF_LEVEL, prefilter_regex=True,
        test_cases=(
            ("[ERROR] 2000-01-02 12:33:01 -1200 1", 8, 33, "2000-01-03T00:33:01.000000", 0),
            ("[VERBOSE] 2000-01-02T12:33:04 -1030 4444", 10, 35, "2000-01-02T23:03:04.000000", 0),
            ("INFO: 2021-03-04 05:06:07 service ready", 6, 25, "2021-03-04T05:06:07.000000", 0),
            ("DEBUG5: 2021-03-04 05:06:07 worker", 8, 27, "2021-03-04T05:06:07.000000", 0),
        ),
    ),
    # -- unanchored bracketed Y/m/d anywhere in line (entries 123-127)
    DTPD(
        name="ub_ymd_tz",
        regex=rf"{LB}(?P<dt>{YEAR}[/\- ]?{MONTHm}[/\- ]?{DAY}[ T\-:]?{HOUR}:?{MIN}:?{SEC}(?:[\.,]{FRAC})? ?(?:{TZNUM}|{TZNAME})){RB}",
        slice_lo=0,
        slice_hi=1024,
        prefilter=r"[\[\(\{<](?:19|20)\d\d[/\- ]?\d", prefilter_regex=True,
        test_cases=(
            ("[LOGGER]  {2000/01/03 05:02:33.123456-11:30} ab", 11, 43, "2000-01-03T16:32:33.123456", 0),
            ("[LOGGER]\t\t<2000/01/05 00:04:35.123456789 VLAT>:", 11, 45, "2000-01-04T14:04:35.123456", 789),
        ),
    ),
    DTPD(
        name="ub_ymd",
        regex=rf"{LB}(?P<dt>{YEAR}[/\- ]?{MONTHm}[/\- ]?{DAY}[ T\-:]?{HOUR}:?{MIN}:?{SEC}(?:[\.,]{FRAC})?)[ \t]*{RB}",
        slice_lo=0,
        slice_hi=1024,
        prefilter=r"[\[\(\{<](?:19|20)\d\d[/\- ]?\d", prefilter_regex=True,
        test_cases=(
            ("[LOGGER]  (2020-01-06 00:05:26.123456789) abcdefg", 11, 40, "2020-01-06T00:05:26.123456", 789),
        ),
    ),
    # -- general unanchored fallbacks, first 1024 chars (entries 128-139)
    DTPD(
        name="fallback_ymd_hms_tz",
        regex=rf"{NANB}(?P<dt>{YEAR}[/\-\\ ]?{MONTHm}[/\-\\ ]?{DAY}[ T\-:_]?{HOUR}:?{MIN}:?{SEC}(?:[\.,]{FRAC})? ?(?:{TZNUM}|{TZNAME})){ND}",
        slice_lo=0,
        slice_hi=1024,
        prefilter=r"(?:19|20)\d\d.?\d{1,2}.?\d{1,2}.?\d{1,2}:?\d\d", prefilter_regex=True,
        test_cases=(
            ("CONNECT at 2023-06-15 10:20:30 UTC done", 11, 34, "2023-06-15T10:20:30.000000", 0),
            ("x 2000/01/05 00:34:35.123456789 VLAT:", 2, 36, "2000-01-04T14:34:35.123456", 789),
        ),
    ),
    DTPD(
        name="fallback_ymd_hms",
        regex=rf"{NANB}(?P<dt>{YEAR}[/\-\\ ]?{MONTHm}[/\-\\ ]?{DAY}[ T\-:_]?{HOUR}:?{MIN}:?{SEC}(?:[\.,]{FRAC})?){NAN}",
        slice_lo=0,
        slice_hi=1024,
        prefilter=r"(?:19|20)\d\d.?\d{1,2}.?\d{1,2}.?\d{1,2}:?\d\d", prefilter_regex=True,
        test_cases=(
            ("pid 42 started on 2021-07-04 12:00:01 ok", 18, 37, "2021-07-04T12:00:01.000000", 0),
            ("session opened 2019/05/06 07:08:09 for user root", 15, 34, "2019-05-06T07:08:09.000000", 0),

        ),
    ),
]

for _i, _p in enumerate(DATETIME_PARSE_DATAS):
    object.__setattr__(_p, "pattern_id", _i)  # stable ids = table index

# dummy year for no-year formats (reference datetime.rs:146-155)
DUMMY_YEAR = 1972

MONTH3_TO_NUM = {
    "jan": 1, "feb": 2, "mar": 3, "apr": 4, "may": 5, "jun": 6,
    "jul": 7, "aug": 8, "sep": 9, "oct": 10, "nov": 11, "dec": 12,
}


def month_name_to_num(name: str) -> int | None:
    """Month name or 3-letter abbrev → number (reference
    month_bB_to_month_m_bytes, datetime.rs:5787)."""
    return MONTH3_TO_NUM.get(name[:3].lower())
