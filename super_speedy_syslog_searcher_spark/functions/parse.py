"""Vectorized datetime extraction over the DTPD table.

Re-expresses the reference's per-line probe chain
``find_datetime_in_line → ezcheck_slice → bytes_to_regex_to_datetime →
captures_to_buffer_bytes → datetime_parse_from_str``
(/root/reference/src/readers/syslinereader.rs:1200-1403;
/root/reference/src/data/datetime.rs:5859-6364) as Arrow-batched pandas
operations:

* the **ezcheck** prefilter (syslinereader.rs:1077-1187) becomes a
  vectorized ``str.contains(r"\\d\\d")`` mask — rows without two
  consecutive digits can never match any pattern — plus a pre-UDF
  ``rlike`` the caller can push into the Spark plan;
* the per-pattern **byte-range slice** (``range_regex``,
  datetime.rs:995-1008) becomes ``str.slice`` before regex;
* patterns compile ONCE per Python worker at module import
  (reference compiles lazily per OnceCell, datetime.rs:6213-6243);
* **pattern lock-in** (P9, syslinereader.rs:1450,1528; DT_PATTERN_MAX=1
  at :450) locks one pattern per doc, as s4 does per file, inside the
  parse kernel (``parse_doc_lines``): the doc's first K lines vote with
  the full table (ties → lowest table index, datetime.rs:2517-2556) and
  its other lines try the locked pattern first — no vote job, and a
  doc's timestamps depend on that doc alone. The line-grained
  ``parse_lines`` keeps a per-source vote over a doc sample
  (``vote_patterns``, one eager Spark job) whose map rides the UDF
  closure;
* conversion failure after a regex match (e.g. month 13) falls through to
  the next pattern, matching ``bytes_to_regex_to_datetime`` returning None.

Output columns: ``ts`` (UTC timestamp, µs), ``ts_ns`` (nanosecond
remainder 0-999 — chrono carries ns, Spark µs; SURVEY §7.3), ``dt_beg`` /
``dt_end`` (char offsets of the datetime substring — the reference keeps
byte offsets for highlighting, sysline.rs:58-65), ``pattern_id``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .patterns import DATETIME_PARSE_DATAS, DUMMY_YEAR, month_name_to_num
from .tzmap import offset_str_to_minutes, resolve_tz_abbrev

_COMPILED = [re.compile(p.regex) for p in DATETIME_PARSE_DATAS]
NOYEAR_PATTERN_IDS = [p.pattern_id for p in DATETIME_PARSE_DATAS if not p.has_year]

PARSE_RESULT_FIELDS = "ts timestamp, ts_ns int, dt_beg int, dt_end int, pattern_id int"

# cheap prefilter, usable both Spark-side (rlike) and pandas-side
EZCHECK_RE = r"\d\d"

# P9: a doc's first VOTE_LINES_PER_DOC lines elect its pattern; the
# line-grained vote samples those lines of every VOTE_DOC_SAMPLE_MOD-th
# doc (by doc_id hash)
VOTE_LINES_PER_DOC = 8
VOTE_DOC_SAMPLE_MOD = 20


def _frac_to_ns(col: list) -> np.ndarray:
    """fractional-digit strings right-padded to 9 → integer nanoseconds
    (reference pads to 9, captures_to_buffer_bytes datetime.rs:5859+)."""
    return np.fromiter(
        (0 if f is None else int(f.ljust(9, "0") or 0) for f in col),
        dtype=np.int64, count=len(col),
    )


def _ints(col: list) -> np.ndarray:
    """digit-string column (possibly space-padded, e.g. '%e' days) → int64.
    np.array's C conversion loop tolerates surrounding whitespace and is
    ~2× a python genexpr + fromiter."""
    return np.array(col, dtype=np.int64)


def _map_uniques(col: np.ndarray, fn) -> np.ndarray:
    """Apply ``fn`` once per UNIQUE value (object array) — tz strings and
    month names repeat massively within a batch."""
    uniq, inv = np.unique(col, return_inverse=True)
    mapped = np.array([fn(u) for u in uniq], dtype=object)
    return mapped[inv]


_DAYS_IN_MONTH = np.array([31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31], dtype=np.int64)


def _civil_to_epoch_days(year: np.ndarray, month: np.ndarray, day: np.ndarray) -> np.ndarray:
    """(y, m, d) int64 arrays → days since 1970-01-01 (proleptic Gregorian,
    Howard Hinnant's days_from_civil, branch-free numpy)."""
    y = year - (month <= 2)
    era = np.floor_divide(y, 400)
    yoe = y - era * 400
    mp = (month + 9) % 12
    doy = (153 * mp + 2) // 5 + day - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _tz_minutes(
    cols: dict[str, list], n: int, default_tz_minutes: int
) -> tuple[np.ndarray, np.ndarray]:
    """Resolve tz offset minutes from 'tz' (numeric) or 'tzname' groups.

    Returns (minutes, ok). Unknown named tz → not ok (conversion failure →
    next pattern); ambiguous named tz → default offset (datetime.rs:6165).
    """
    minutes = np.full(n, default_tz_minutes, dtype=np.int64)
    ok = np.ones(n, dtype=bool)
    if "tz" in cols:
        arr = np.array(cols["tz"], dtype=object)
        has = arr != None  # noqa: E711 — elementwise
        if has.any():
            minutes[has] = _map_uniques(arr[has], offset_str_to_minutes).astype(np.int64)
    if "tzname" in cols:
        arr = np.array(cols["tzname"], dtype=object)
        has = arr != None  # noqa: E711
        if has.any():
            resolved = _map_uniques(
                arr[has], lambda a: resolve_tz_abbrev(a, fallback_offset="SENTINEL_DEFAULT")
            )
            bad = np.array([r is None for r in resolved], dtype=bool)
            ok[np.flatnonzero(has)[bad]] = False
            fixed = ~bad & (resolved != "SENTINEL_DEFAULT")
            if fixed.any():
                minutes[np.flatnonzero(has)[fixed]] = np.array(
                    [offset_str_to_minutes(r) for r in resolved[fixed]], dtype=np.int64
                )
    return minutes, ok


def _convert_matches(
    matches: list[re.Match],
    pattern,
    default_tz_minutes: int,
    reference_year: int | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Matched rows → (utc_ns int64 epoch, ns_rem int16, ok bool).

    Pure numpy — no pandas Series/BlockManager in the per-batch hot path
    (measured 76% of kernel time before; the datetime assembly is direct
    civil→epoch arithmetic with the same coerce semantics as
    ``pd.to_datetime(errors="coerce")``: bad month/day → not ok,
    hour/minute overflow adds through, leap-second clamped)."""
    # build group columns directly (m.group(name) is a C-level call);
    # per-match groupdict() would allocate a dict per row
    names = [g for g in matches[0].re.groupindex if g != "dt"]
    cols = {g: [m.group(g) for m in matches] for g in names}
    n = len(matches)
    ok = np.ones(n, dtype=bool)

    if pattern.epoch:
        secs = _ints(cols["epoch"])
        ns = _frac_to_ns(cols["frac"]) if "frac" in cols else np.zeros(n, dtype=np.int64)
        utc_ns = secs * 1_000_000_000 + ns
        return utc_ns, (ns % 1000).astype(np.int16), ok

    if getattr(pattern, "mjd", False):
        # NTP statistics: modified Julian day + seconds past midnight UTC
        # (MJD epoch 1858-11-17; Unix epoch = MJD 40587)
        days = _ints(cols["mjd"])
        secs = _ints(cols["sod_i"])
        ns = _frac_to_ns(cols["sod_f"])
        utc_ns = ((days - 40587) * 86400 + secs) * 1_000_000_000 + ns
        return utc_ns, (ns % 1000).astype(np.int16), ok

    if "year" in cols and all(v is not None for v in cols["year"]):
        year = _ints(cols["year"])
    elif "year2" in cols:
        yy = _ints(cols["year2"])
        # chrono %y pivot: 00-68 → 20xx, 69-99 → 19xx
        year = np.where(yy <= 68, 2000 + yy, 1900 + yy)
    else:
        year = np.full(n, reference_year or DUMMY_YEAR, dtype=np.int64)

    if "month" in cols and all(v is not None for v in cols["month"]):
        month = _ints(cols["month"])
    else:
        mb = np.array(cols["monthb"], dtype=object)
        mnum = _map_uniques(mb, lambda s: month_name_to_num(s) if isinstance(s, str) else None)
        bad = np.array([v is None for v in mnum], dtype=bool)
        ok &= ~bad
        month = np.where(bad, 1, mnum).astype(np.int64)

    day = _ints(cols["day"])
    hour = _ints(cols["hour"])
    minute = _ints(cols["minute"])
    second = _ints(cols["second"]) if "second" in cols else np.zeros(n, dtype=np.int64)
    # leap second (CGP_SECOND allows 60, datetime.rs:1805) → clamp
    second = np.minimum(second, 59)

    ns = _frac_to_ns(cols["frac"]) if "frac" in cols else np.zeros(n, dtype=np.int64)
    tz_min, tz_ok = _tz_minutes(cols, n, default_tz_minutes)
    ok &= tz_ok

    # calendar validation ≡ pd.to_datetime coerce: month in 1..12 and day
    # in 1..days_in_month (with Feb 29 on leap years)
    m_ok = (month >= 1) & (month <= 12)
    m_idx = np.where(m_ok, month, 1) - 1
    leap = (year % 4 == 0) & ((year % 100 != 0) | (year % 400 == 0))
    max_day = _DAYS_IN_MONTH[m_idx] + ((m_idx == 1) & leap)
    ok &= m_ok & (day >= 1) & (day <= max_day)

    epoch_days = _civil_to_epoch_days(year, np.where(m_ok, month, 1), np.where(ok, day, 1))
    base_ns = (epoch_days * 86400 + hour * 3600 + minute * 60 + second) * 1_000_000_000
    utc_ns = np.where(ok, base_ns, 0) + ns - tz_min * 60_000_000_000
    return utc_ns, (ns % 1000).astype(np.int16), ok


class _BatchParse:
    """One batch of lines under parse: the output columns, the ezcheck
    mask, and the prefilter masks that every pass over the batch shares."""

    def __init__(self, text: pd.Series, default_tz_minutes: int, reference_year: int | None):
        n = len(text)
        self.text = text.fillna("").reset_index(drop=True)
        self.tz_min = default_tz_minutes
        self.reference_year = reference_year
        self.utc_ns, self.ok, self.ns_rem = np.zeros(n, "int64"), np.zeros(n, bool), np.zeros(n, "int16")
        self.beg, self.end, self.pid = (np.full(n, -1, dtype="int32") for _ in range(3))
        # ezcheck: two consecutive digits required by every pattern
        self.candidate = self.text.str.contains(EZCHECK_RE, na=False).to_numpy(bool) if n else self.ok.copy()
        # shared prefilter masks: several entries reuse the same prefilter
        # (all 7 weekday-led families share one, the 4 dnf families another),
        # so each is checked at most ONCE per row per batch (11 regex scans
        # become 2 on the all-miss path), and only on rows that reach it.
        # Masks are over the UNSLICED text — a correct over-approximation
        # of the per-pattern sliced check.
        self._masks: dict[tuple[str, bool, bool], tuple[np.ndarray, np.ndarray]] = {}

    def _prefilter(self, pat, row_mask: np.ndarray) -> np.ndarray:
        key = (pat.prefilter, pat.prefilter_regex, pat.prefilter_lower)
        known, hit = self._masks.setdefault(key, (np.zeros(len(self.ok), bool), np.zeros(len(self.ok), bool)))
        idx = np.flatnonzero(row_mask & ~known)
        if len(idx):
            hay = self.text.iloc[idx]
            hay = hay.str.lower() if pat.prefilter_lower else hay
            hit[idx] = hay.str.contains(pat.prefilter, regex=pat.prefilter_regex, na=False).to_numpy()
            known[idx] = True
        return row_mask & hit

    def try_pattern(self, pid: int, row_mask: np.ndarray, use_prefilter: bool = True) -> None:
        """Match pattern ``pid`` on ``row_mask``; the rows it parses take its result."""
        pat = DATETIME_PARSE_DATAS[pid]
        rx = _COMPILED[pid]
        if use_prefilter and pat.prefilter is not None and row_mask.sum() > 32:
            # ezcheck-style cheap rejection before the full regex
            row_mask = self._prefilter(pat, row_mask)
        idx = np.flatnonzero(row_mask)
        if len(idx) == 0:
            return
        series = self.text.iloc[idx]
        if pat.slice_lo or pat.slice_hi < 4096:
            series = series.str.slice(pat.slice_lo, pat.slice_hi)
        search = rx.search
        matches = [search(s) for s in series.tolist()]
        hit_rows = [i for i, m in zip(idx, matches) if m is not None]
        hit_matches = [m for m in matches if m is not None]
        if not hit_rows:
            return
        utc_ns, ns_rem, ok = _convert_matches(hit_matches, pat, self.tz_min, self.reference_year)
        good = np.asarray(hit_rows)[ok]
        if len(good) == 0:
            return
        self.utc_ns[good] = utc_ns[ok]
        self.ns_rem[good] = ns_rem[ok]
        self.pid[good] = pid
        spans = np.array(
            [(m.start("dt") + pat.slice_lo, m.end("dt") + pat.slice_lo) for m, o in zip(hit_matches, ok) if o],
            dtype="int32",
        )
        self.beg[good] = spans[:, 0]
        self.end[good] = spans[:, 1]
        self.ok[good] = True

    def try_locked(self, locked: np.ndarray, row_mask: np.ndarray) -> None:
        """Try each row's locked pattern id (−1: none) on it alone."""
        for pid in np.unique(locked[row_mask]):
            if 0 <= pid < len(DATETIME_PARSE_DATAS):
                # locked rows almost always match their pattern — the
                # prefilter scan would be pure overhead on the hot path
                self.try_pattern(int(pid), row_mask & (locked == pid), use_prefilter=False)

    def full_table(self, row_mask: np.ndarray) -> None:
        """Table-order dispatch of ``row_mask``'s unparsed rows: first match wins."""
        for pid in range(len(DATETIME_PARSE_DATAS)):
            remaining = row_mask & ~self.ok
            if not remaining.any():
                break
            self.try_pattern(pid, remaining)

    def frame(self) -> pd.DataFrame:
        """The result columns, row-aligned with the input text."""
        # Spark timestamps are µs: truncate; the sub-µs remainder is ts_ns
        # (sort-fidelity tiebreaker, SURVEY §7.3)
        trunc = np.where(self.ok, self.utc_ns - (self.utc_ns % 1000), np.iinfo(np.int64).min)  # min ≙ NaT
        ts = pd.Series(trunc.view("datetime64[ns]")).dt.tz_localize("UTC")
        return pd.DataFrame(
            {"ts": ts, "ts_ns": self.ns_rem.astype("int32"), "dt_beg": self.beg, "dt_end": self.end, "pattern_id": self.pid}
        )


def parse_series(
    text: pd.Series,
    default_tz_minutes: int = 0,
    reference_year: int | None = None,
    locked: pd.Series | None = None,
) -> pd.DataFrame:
    """The core vectorized parse: Series[str] → DataFrame(ts, ts_ns,
    dt_beg, dt_end, pattern_id).

    Dispatch order = DTPD table order; a per-row ``locked`` pattern id
    (from P9 voting) is tried first for its rows.
    """
    b = _BatchParse(text, default_tz_minutes, reference_year)
    if locked is not None:
        b.try_locked(locked.fillna(-1).astype("int64").to_numpy(), b.candidate)
    b.full_table(b.candidate)
    return b.frame()


def parse_doc_lines(lines: pd.DataFrame, default_tz_minutes: int = 0, reference_year: int | None = None) -> pd.DataFrame:
    """P9 per doc over whole docs' lines (``split_docs_batch`` output):
    a doc's first VOTE_LINES_PER_DOC lines go through the full table and
    elect its pattern (``_elect``); a head line the lock did not win is
    re-tried with the lock alone, the other lines parse locked-first with
    the full-table fallback — no line meets the full table twice. Returns
    ``parse_series``' columns, row-aligned with ``lines``."""
    b = _BatchParse(lines["text"], default_tz_minutes, reference_year)
    line_no = lines["line_no"].to_numpy()
    head = b.candidate & (line_no < VOTE_LINES_PER_DOC)
    b.full_table(head)

    doc = np.cumsum(line_no == 0) - 1
    hit = head & b.ok
    n_pat = len(DATETIME_PARSE_DATAS)
    keys, counts = np.unique(doc[hit] * n_pat + b.pid[hit], return_counts=True)
    elected = _elect(zip((keys // n_pat).tolist(), (keys % n_pat).tolist(), counts.tolist()))
    lock = np.full(doc[-1] + 1 if len(doc) else 0, -1, dtype=np.int64)
    lock[list(elected)] = list(elected.values())
    locked = lock[doc]

    b.try_locked(locked, hit & (b.pid != locked))
    tail = b.candidate & ~head
    b.try_locked(locked, tail)
    b.full_table(tail)
    return b.frame()


def make_parse_udf(
    default_tz: str = "+00:00",
    reference_year: int | None = None,
    locked_map: dict[str, int] | None = None,
):
    """Build the Arrow-batched parse UDF (struct result) with job params
    baked into the closure (≙ the reference's --tz-offset default fill).

    ``locked_map`` (source → pattern_id, from P9 voting) rides the closure
    instead of a broadcast join: it is bounded by the number of sources
    (same cardinality class as the enrichment lookup), and keeping it out
    of the plan saves a per-query broadcast exchange + join stage.
    """
    tz_min = offset_str_to_minutes(default_tz)
    locked_map = locked_map or {}

    @F.pandas_udf(PARSE_RESULT_FIELDS)
    def _parse(text: pd.Series, source: pd.Series) -> pd.DataFrame:
        locked = source.map(locked_map) if locked_map else None
        return parse_series(text, default_tz_minutes=tz_min, reference_year=reference_year, locked=locked)

    return _parse


def vote_patterns(lines: DataFrame, default_tz: str = "+00:00") -> dict[str, int]:
    """P9 pattern lock-in, pass 1 — the block-zero-analysis analogue
    (reference Stage1, syslogprocessor.rs:911; dt_patterns_analysis
    syslinereader.rs:1528).

    Samples the first VOTE_LINES_PER_DOC lines of a deterministic
    ~1/VOTE_DOC_SAMPLE_MOD subset of docs (hash-based, so the vote parses
    a bounded fraction of the corpus however docs are shaped), parses with
    the full table, and elects ONE pattern per source (DT_PATTERN_MAX = 1):
    most hits wins, ties broken by lowest table index. Returns a small dict {source: locked_pattern_id}
    destined for the parse-UDF closure (bounded by source cardinality).
    Sources whose sampled docs never match stay unlocked — the full-table
    fallback in pass 2 keeps them correct.
    """
    parse_udf = make_parse_udf(default_tz=default_tz)
    sample = lines.filter(
        (F.col("line_no") < VOTE_LINES_PER_DOC)
        & (F.pmod(F.xxhash64("doc_id"), F.lit(VOTE_DOC_SAMPLE_MOD)) == 0)
    )
    # project the UDF struct ONCE before filter/groupBy — referencing
    # p.pattern_id in both would make Catalyst instantiate the python
    # stage twice (no CSE across ArrowEvalPython)
    parsed = sample.select("source", parse_udf(F.col("text"), F.col("source")).getField("pattern_id").alias("pid"))
    counts = (
        parsed.filter(F.col("pid") >= 0)
        .groupBy("source", F.col("pid").alias("locked_pattern_id"))
        .count()
        .collect()  # ≤ sources × patterns rows — argmax on the driver
    )
    return _elect([(r["source"], r["locked_pattern_id"], r["count"]) for r in counts])


def _elect(counts) -> dict:
    """(key, pid, n) rows → {key: locked_pid}, the key a source or a doc;
    most hits wins, ties → lowest table index (datetime.rs:2517-2556)."""
    best: dict = {}
    for key, pid, n in counts:
        cur = best.get(key)
        if cur is None or (n, -pid) > (cur[0], -cur[1]):
            best[key] = (n, pid)
    return {k: pid for k, (_, pid) in best.items()}


def parse_messages_fused(
    docs: DataFrame,
    default_tz: str = "+00:00",
    reference_year: int | None = None,
) -> DataFrame:
    """Fully-fused docs → MESSAGES: token split + datetime parse with the
    P9 pattern locked per doc + sessionization + year inference in ONE
    mapInPandas stage, ZERO shuffles, and no Spark job while the plan is
    built.

    Valid because the input is doc-grained (input_hint): every doc's lines
    are contiguous inside the stage by construction, so the pattern
    election (``parse_doc_lines``), message grouping and the per-doc
    year-rollover rule (``operators.yearfix.fix_years``, applied when
    ``reference_year`` is set) are partition-local — the Spark
    realization of the reference's single-thread-per-file pass
    (find_line → find_datetime_in_line → sysline assembly, s4's
    src/readers/syslinereader.rs:1976-2192) with no cross-task
    coordination. A doc's messages depend on that doc alone, whatever
    batch, resume subset or micro-batch it arrives in; the same call runs
    on a streaming DataFrame. The line-grained ``sessionize`` and
    ``infer_years`` operators remain for inputs that arrive as loose lines.
    """
    from collections.abc import Iterator

    from ..operators.sessionize import MESSAGES_SCHEMA, _emit_messages
    from ..operators.yearfix import fix_years
    from .codec import split_docs_batch

    tz_min = offset_str_to_minutes(default_tz)

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lines = split_docs_batch(pdf["doc_id"].to_numpy(), pdf["source"].to_numpy(), pdf["tokens"])
            p = parse_doc_lines(lines, default_tz_minutes=tz_min, reference_year=reference_year)
            for c in ("ts", "ts_ns", "dt_beg", "dt_end", "pattern_id"):
                lines[c] = p[c].to_numpy() if c != "ts" else p[c]
            msgs = _emit_messages(lines)
            yield msgs if reference_year is None else fix_years(msgs)

    return docs.select("doc_id", "source", "tokens").mapInPandas(_gen, schema=MESSAGES_SCHEMA)


def parse_lines(
    lines: DataFrame,
    default_tz: str = "+00:00",
    reference_year: int | None = None,
    lock_patterns: bool = True,
) -> DataFrame:
    """Full two-pass parse over a lines DF (doc_id, source, line_no, text, ...).

    Adds ts/ts_ns/dt_beg/dt_end/pattern_id. The pre-UDF ``rlike`` ezcheck
    lets Catalyst skip digit-less rows before Python is ever invoked —
    those rows keep NULL ts and become continuation lines downstream.
    """
    locked_map = vote_patterns(lines, default_tz=default_tz) if lock_patterns else None
    parse_udf = make_parse_udf(default_tz=default_tz, reference_year=reference_year, locked_map=locked_map)

    # NOTE: no F.when() gate around the UDF — Catalyst does not guarantee
    # lazy branch evaluation for python UDFs, and continuation lines must
    # be KEPT (null ts), not filtered. The vectorized ezcheck inside
    # parse_series() rejects digit-less rows at ~memchr cost instead.
    parsed = lines.withColumn("p", parse_udf(F.col("text"), F.col("source")))
    return parsed.select(
        *lines.columns,
        F.col("p.ts").alias("ts"),
        F.col("p.ts_ns").alias("ts_ns"),
        F.col("p.dt_beg").alias("dt_beg"),
        F.col("p.dt_end").alias("dt_end"),
        F.coalesce(F.col("p.pattern_id"), F.lit(-1)).alias("pattern_id"),
    )
