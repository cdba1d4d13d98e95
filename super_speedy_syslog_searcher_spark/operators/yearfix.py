"""Year inference for no-year datetime formats (RFC 3164 etc.).

Reference: ``process_missing_year``
(/root/reference/src/readers/syslogprocessor.rs:604-712). The reference
seeds the year from the file's mtime and walks the file's syslines
BACKWARDS: a sysline more than 25 hours
(``BACKWARDS_TIME_JUMP_MEANS_NEW_YEAR``, syslogprocessor.rs:189) after the
sysline that follows it, both placed in the walk's current year, means a
year rollover, so the year is decremented for it and every earlier one.

Our engine has no mtimes (not reproducible — the reference's own CI resets
them, SURVEY §5); the seed year is an explicit job parameter
(``reference_year``), at which the parser already places no-year rows.
The 25-hour constant is kept.

``fix_years`` is the rule over a block of WHOLE docs in file order, in
numpy: the parse kernel (``parse_messages_fused``) applies it to each
Arrow batch, where every doc is whole by construction, and
``infer_years`` applies it to loose messages after one shuffle on doc_id.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.parse import NOYEAR_PATTERN_IDS, _civil_to_epoch_days
from .sessionize import whole_docs

BACKWARDS_TIME_JUMP_MEANS_NEW_YEAR_HOURS = 25
_JUMP_NS = BACKWARDS_TIME_JUMP_MEANS_NEW_YEAR_HOURS * 3_600_000_000_000
_DAY_NS = 86_400_000_000_000


def _years_back(doc: np.ndarray, moved) -> np.ndarray:
    """Years each row moves back under the backwards walk.

    ``moved(rows, k)`` is the epoch of ``rows`` placed ``k`` years back.
    The walk compares a row with its successor in the same doc, both in
    the successor's year; only the leap day makes that comparison depend
    on the year, so the first pass (nothing moved) settles almost every
    row, and each further pass re-checks the rows whose successor moved,
    until no row changes. A row's count depends only on the rows after
    it, so the fixed point is the walk's result.
    """
    head, tail = slice(None, -1), slice(1, None)
    ends = np.flatnonzero(np.append(doc[head] != doc[tail], True))
    last = np.repeat(ends, np.diff(ends, prepend=-1))  # last row of each row's doc
    back = np.zeros(len(doc), dtype=np.int64)
    while True:
        k = back[tail]
        jump = moved(head, k) - moved(tail, k) > _JUMP_NS  # row i vs row i + 1
        after = np.append(np.cumsum(jump[::-1])[::-1], 0)  # jumps at or after each row
        new = after - after[last]  # ... before its doc's last row
        if np.array_equal(new, back):
            return back
        back = new


def fix_years(msgs: pd.DataFrame, reference_year: int | None = None) -> pd.DataFrame:
    """The rollover rule over a block of whole docs, rows in file order
    (doc_id, msg_no). Only rows whose pattern lacks a year move.

    Each row keeps its UTC month, day and time of day; its year is its
    parsed one (or ``reference_year`` when given, for messages parsed at
    another year) less the rollovers after it in its doc. A Feb 29 whose
    new year is not a leap year keeps its parsed timestamp, and the walk
    compares it as Mar 1.
    """
    no_year = msgs["pattern_id"].isin(NOYEAR_PATTERN_IDS).to_numpy()
    if not no_year.any():
        return msgs
    ts = msgs["ts"]
    t_all = ts.to_numpy("datetime64[ns]").view(np.int64).copy()
    t = t_all[no_year]
    days = t // _DAY_NS
    day64 = days.astype("datetime64[D]")
    month64 = day64.astype("datetime64[M]")
    year = day64.astype("datetime64[Y]").astype(np.int64) + 1970
    month = month64.astype(np.int64) % 12 + 1
    day = (day64 - month64).astype(np.int64) + 1
    if reference_year is not None:
        year = np.full_like(year, reference_year)

    def moved(rows, k):
        return t[rows] + (_civil_to_epoch_days(year[rows] - k, month[rows], day[rows]) - days[rows]) * _DAY_NS

    back = _years_back(msgs["doc_id"].to_numpy()[no_year], moved)
    new_year = year - back
    common = (new_year % 4 != 0) | ((new_year % 100 == 0) & (new_year % 400 != 0))
    t_all[no_year] = np.where((month == 2) & (day == 29) & common, t, moved(slice(None), back))
    out = msgs.copy()
    out["ts"] = pd.Series(t_all.view("datetime64[ns]"), index=msgs.index).dt.tz_localize(ts.dt.tz)
    return out


def infer_years(messages: DataFrame, reference_year: int, num_partitions: int | None = None) -> DataFrame:
    """Loose messages DF → messages DF with no-year timestamps
    year-corrected. One shuffle on doc_id puts each doc's messages in one
    partition in msg_no order; ``fix_years`` runs on blocks of whole docs.
    Doc-grained input needs none of this: ``parse_messages_fused`` applies
    the rule inside its own stage."""
    n = num_partitions or int(messages.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for block in whole_docs(batches):
            yield fix_years(block, reference_year)

    return (
        messages.repartition(n, "doc_id")
        .sortWithinPartitions("doc_id", "msg_no")
        .mapInPandas(_gen, schema=messages.schema)
    )
