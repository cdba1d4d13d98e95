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
  at :450) becomes a two-pass scheme: ``vote_patterns`` samples the first
  K lines per doc, votes per source (ties → lowest table index,
  datetime.rs:2517-2556) and the locked id is joined in as a column the
  UDF tries first;
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

from .patterns import DATETIME_PARSE_DATAS, DUMMY_YEAR, month_name_to_num, year2_to_year
from .tzmap import offset_str_to_minutes, resolve_tz_abbrev

_COMPILED = [re.compile(p.regex) for p in DATETIME_PARSE_DATAS]
NOYEAR_PATTERN_IDS = [p.pattern_id for p in DATETIME_PARSE_DATAS if not p.has_year]

PARSE_RESULT_FIELDS = "ts timestamp, ts_ns int, dt_beg int, dt_end int, pattern_id int"

# cheap prefilter, usable both Spark-side (rlike) and pandas-side
EZCHECK_RE = r"\d\d"

# P9 vote sample: the first lines of every VOTE_DOC_SAMPLE_MOD-th doc (by
# doc_id hash), at most VOTE_DOC_LIMIT docs on the doc-grained path
VOTE_LINES_PER_DOC = 8
VOTE_DOC_SAMPLE_MOD = 20
VOTE_DOC_LIMIT = 2048


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
        # chrono %y pivot: 00-68 → 20xx, 69-99 → 19xx (year2_to_year)
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
    n = len(text)
    out_ns = np.zeros(n, dtype="int64")
    out_ok = np.zeros(n, dtype=bool)
    out_nsr = np.zeros(n, dtype="int16")
    out_beg = np.full(n, -1, dtype="int32")
    out_end = np.full(n, -1, dtype="int32")
    out_pid = np.full(n, -1, dtype="int32")

    if n == 0:
        return pd.DataFrame(
            {
                "ts": pd.Series([], dtype="datetime64[ns, UTC]"),
                "ts_ns": pd.Series([], dtype="int32"),
                "dt_beg": pd.Series([], dtype="int32"),
                "dt_end": pd.Series([], dtype="int32"),
                "pattern_id": pd.Series([], dtype="int32"),
            }
        )

    text = text.fillna("").reset_index(drop=True)
    # ezcheck: two consecutive digits required by every pattern
    candidate = text.str.contains(EZCHECK_RE, regex=True, na=False).to_numpy()

    # shared prefilter masks: several entries reuse the same prefilter
    # (all 7 weekday-led families share one, the 4 dnf families another);
    # computing each ONCE over the full text per batch turns 11 regex
    # scans into 2 on the all-miss path. Masks are over the UNSLICED text
    # — a correct over-approximation of the per-pattern sliced check.
    _prefilter_masks: dict[tuple[str, bool, bool], np.ndarray] = {}
    _lowered: list[pd.Series] = []  # lazy one-shot lowercase of the batch

    def _prefilter_mask(pat) -> np.ndarray:
        key = (pat.prefilter, pat.prefilter_regex, pat.prefilter_lower)
        m = _prefilter_masks.get(key)
        if m is None:
            if pat.prefilter_lower:
                if not _lowered:
                    _lowered.append(text.str.lower())
                hay = _lowered[0]
            else:
                hay = text
            m = hay.str.contains(pat.prefilter, regex=pat.prefilter_regex, na=False).to_numpy()
            _prefilter_masks[key] = m
        return m

    def _try_pattern(pid: int, row_mask: np.ndarray, use_prefilter: bool = True) -> None:
        pat = DATETIME_PARSE_DATAS[pid]
        rx = _COMPILED[pid]
        if use_prefilter and pat.prefilter is not None and row_mask.sum() > 32:
            # ezcheck-style cheap rejection before the full regex
            row_mask = row_mask & _prefilter_mask(pat)
        idx = np.flatnonzero(row_mask)
        if len(idx) == 0:
            return
        series = text.iloc[idx]
        if pat.slice_lo or pat.slice_hi < 4096:
            series = series.str.slice(pat.slice_lo, pat.slice_hi)
        sliced = series.tolist()
        search = rx.search
        matches = [search(s) for s in sliced]
        hit_rows = [i for i, m in zip(idx, matches) if m is not None]
        hit_matches = [m for m in matches if m is not None]
        if not hit_rows:
            return
        utc_ns, ns_rem, ok = _convert_matches(hit_matches, pat, default_tz_minutes, reference_year)
        good = np.asarray(hit_rows)[ok]
        if len(good) == 0:
            return
        out_ns[good] = utc_ns[ok]
        out_nsr[good] = ns_rem[ok]
        out_pid[good] = pid
        spans = np.array(
            [(m.start("dt") + pat.slice_lo, m.end("dt") + pat.slice_lo) for m, o in zip(hit_matches, ok) if o],
            dtype="int32",
        )
        out_beg[good] = spans[:, 0]
        out_end[good] = spans[:, 1]
        out_ok[good] = True

    # pass 0: locked patterns first (P9 fast path)
    if locked is not None:
        lk = locked.fillna(-1).astype("int64").to_numpy()
        for pid in np.unique(lk):
            if pid < 0 or pid >= len(DATETIME_PARSE_DATAS):
                continue
            # locked rows almost always match their pattern — the
            # prefilter scan would be pure overhead on the hot path
            _try_pattern(int(pid), candidate & ~out_ok & (lk == pid), use_prefilter=False)

    # full-table pass on leftovers
    for pid in range(len(DATETIME_PARSE_DATAS)):
        remaining = candidate & ~out_ok
        if not remaining.any():
            break
        _try_pattern(pid, remaining)

    # Spark timestamps are µs: truncate; the sub-µs remainder is ts_ns
    # (sort-fidelity tiebreaker, SURVEY §7.3)
    trunc = out_ns - (out_ns % 1000)
    ts = pd.Series(
        pd.DatetimeIndex(np.where(out_ok, trunc, np.int64(0)).view("datetime64[ns]")).tz_localize("UTC")
    )
    ts[~out_ok] = pd.NaT
    return pd.DataFrame(
        {
            "ts": ts,
            "ts_ns": pd.Series(out_nsr, dtype="int32"),
            "dt_beg": pd.Series(out_beg, dtype="int32"),
            "dt_end": pd.Series(out_end, dtype="int32"),
            "pattern_id": pd.Series(out_pid, dtype="int32"),
        }
    )


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


def _elect(counts: list[tuple[str, int, int]]) -> dict[str, int]:
    """(source, pid, n) rows → {source: locked_pid}; most hits wins, ties
    → lowest table index (datetime.rs:2517-2556)."""
    best: dict[str, tuple[int, int]] = {}
    for source, pid, n in counts:
        cur = best.get(source)
        if cur is None or (n, -pid) > (cur[0], -cur[1]):
            best[source] = (n, pid)
    return {s: pid for s, (_, pid) in best.items()}


def vote_patterns_fused(docs: DataFrame, default_tz: str = "+00:00") -> dict[str, int]:
    """P9 vote with token-split + parse + partial count fused into ONE
    mapInPandas stage (a separate explode stage would pay a second Arrow
    round trip just to move the sampled lines between Python stages —
    measured ~5 s of fixed cost per job at 6M docs, ~2.5 s fused).
    Election semantics are those of ``vote_patterns``: full-table parse
    on the sample, most hits per source wins, ties → lowest table index
    (datetime.rs:2517-2556); the doc-hash sample cut and LIMIT
    early-stop sit on the scan."""
    from collections.abc import Iterator

    from .codec import split_docs_batch

    sample = (
        docs.select("doc_id", "source", "tokens")
        .filter(F.pmod(F.xxhash64("doc_id"), F.lit(VOTE_DOC_SAMPLE_MOD)) == 0)
        .limit(VOTE_DOC_LIMIT)
    )
    tz_min = offset_str_to_minutes(default_tz)

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lines = split_docs_batch(pdf["doc_id"].to_numpy(), pdf["source"].to_numpy(), pdf["tokens"])
            lines = lines[lines["line_no"] < VOTE_LINES_PER_DOC]
            p = parse_series(lines["text"].reset_index(drop=True), default_tz_minutes=tz_min)
            hits = pd.DataFrame({
                "source": lines["source"].to_numpy(),
                "pid": p["pattern_id"].to_numpy(),
            })
            agg = hits[hits["pid"] >= 0].groupby(["source", "pid"]).size().reset_index(name="cnt")
            yield agg

    counts = (
        sample.mapInPandas(_gen, schema="source string, pid int, cnt long")
        .groupBy("source", "pid")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()  # ≤ sources × patterns rows
    )
    return _elect([(r["source"], r["pid"], r["cnt"]) for r in counts])


def parse_messages_fused(
    docs: DataFrame,
    default_tz: str = "+00:00",
    reference_year: int | None = None,
    lock_patterns: bool = True,
    locked_map: dict[str, int] | None = None,
) -> DataFrame:
    """Fully-fused docs → MESSAGES: token split + datetime parse +
    sessionization + year inference in ONE mapInPandas stage, ZERO
    shuffles.

    Valid because the input is doc-grained (input_hint): every doc's lines
    are contiguous inside the stage by construction, so message grouping
    and the per-doc year-rollover rule (``operators.yearfix.fix_years``,
    applied when ``reference_year`` is set) are partition-local — the
    Spark realization of the reference's single-thread-per-file pass
    (find_line → find_datetime_in_line → sysline assembly, s4's
    src/readers/syslinereader.rs:1976-2192) with no
    cross-task coordination. The line-grained ``sessionize`` and
    ``infer_years`` operators remain for inputs that arrive as loose lines.
    """
    from collections.abc import Iterator

    from ..operators.sessionize import MESSAGES_SCHEMA, _emit_messages
    from ..operators.yearfix import fix_years
    from .codec import split_docs_batch

    if locked_map is None:
        locked_map = vote_patterns_fused(docs, default_tz=default_tz) if lock_patterns else {}
    tz_min = offset_str_to_minutes(default_tz)

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lines = split_docs_batch(pdf["doc_id"].to_numpy(), pdf["source"].to_numpy(), pdf["tokens"])
            locked = lines["source"].map(locked_map) if locked_map else None
            p = parse_series(
                lines["text"], default_tz_minutes=tz_min, reference_year=reference_year, locked=locked
            )
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
