"""Deterministic corruption fuzz for the binary container readers: any
byte-flipped file must either parse (flip landed in slack space), raise
the reader's own FormatError, or yield per-record containment rows —
NEVER another exception type, because the Spark wrappers catch only the
FormatError and anything else would kill the task at scale."""

from __future__ import annotations

import random

import pytest

from super_speedy_syslog_searcher_spark.operators import journal_native as J
from super_speedy_syslog_searcher_spark.operators.evtx_native import (
    EvtxFormatError,
    EvtxWriter,
    Sub,
    parse_evtx_bytes,
)

TRIALS = 120


def _evtx_file() -> bytes:
    w = EvtxWriter()
    tpl = {"Event": {"ID": Sub(0, 0x0A), "T": Sub(1, 0x01)}}
    for i in range(20):
        if i % 2:
            w.add_record(i + 1, 1_700_000_000_000_000 + i, {"Event": {"ID": str(i + 1), "T": "x"}})
        else:
            w.add_template_record(i + 1, 1_700_000_000_000_000 + i, 7, tpl,
                                  [(0x0A, i + 1), (0x01, "y")])
    return w.build()


def _journal_file(xz: bool) -> bytes:
    w = J.JournalWriter(xz_min_payload=8 if xz else None)
    for i in range(15):
        w.add_entry(
            1_700_000_000_000_000 + i * 1000, i * 500,
            [f"MESSAGE=longer message payload {i} {'x' * 40}".encode(),
             f"_PID={100 + i}".encode()],
        )
    return w.build()


def _flip(buf: bytes, rng: random.Random) -> bytes:
    b = bytearray(buf)
    for _ in range(rng.randrange(1, 10)):
        b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
    return bytes(b)


def test_evtx_reader_contains_any_corruption():
    base = _evtx_file()
    rng = random.Random(7)
    for _ in range(TRIALS):
        try:
            parse_evtx_bytes(_flip(base, rng))
        except EvtxFormatError:
            pass  # the one exception the Spark wrapper converts to a row


@pytest.mark.parametrize("xz", [False, True], ids=["plain", "xz"])
def test_journal_reader_contains_any_corruption(xz):
    base = _journal_file(xz)
    rng = random.Random(11)
    for _ in range(TRIALS):
        try:
            J.parse_journal_bytes(_flip(base, rng))
        except J.JournalFormatError:
            pass
