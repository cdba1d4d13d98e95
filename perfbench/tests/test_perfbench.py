"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from check import check_sinks, connect  # noqa: E402
from run import tail_percentile  # noqa: E402
from spans import Span, self_time  # noqa: E402
from workloads import gen_events  # noqa: E402

from super_speedy_syslog_searcher_spark import entry_queries as EQ  # noqa: E402


# --------------------------------------------------------------------------
# percentile with >= 10 samples beyond it
# --------------------------------------------------------------------------
@pytest.mark.parametrize(
    "n, want_p",
    [(1, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_picks_highest_with_ten_beyond(n, want_p):
    xs = list(range(n, 0, -1))  # unsorted input
    got = tail_percentile(xs)
    if want_p is None:
        assert got is None
        return
    p, value = got
    assert p == want_p
    assert sum(x > value for x in xs) >= 10
    assert value == sorted(xs)[-(-round(p * 100) * n // 10000) - 1]


# --------------------------------------------------------------------------
# span self time
# --------------------------------------------------------------------------
def _span(i, start, end, parent):
    return Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    parent = _span(0, 0.0, 10.0, None)
    spans = [
        parent,
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 4.0, 0),  # overlaps span 1: [1, 4] counts once
        _span(3, 8.0, 12.0, 0),  # outlives the parent: only [8, 10] counts
        _span(4, 1.5, 2.5, 1),  # grandchild: already inside its parent
        _span(5, 5.0, 5.0, 0),  # empty
    ]
    assert self_time(parent, spans) == pytest.approx(10.0 - 3.0 - 2.0)
    assert self_time(spans[1], spans) == pytest.approx(2.0 - 1.0)
    assert self_time(spans[3], spans) == pytest.approx(4.0)


# --------------------------------------------------------------------------
# output check on committed sinks
# --------------------------------------------------------------------------
@pytest.fixture
def routed(tmp_path):
    """A faithful routed layout for 400 events, restated from the oracle's
    rules: sink per format family, second precision outside the µs families,
    two files per sink."""
    events = gen_events(seed=5, n=400)
    events_path = str(tmp_path / "events.parquet")
    pq.write_table(events, events_path)
    fam = pc.bit_wise_and(events["user_id"], 7).to_numpy()
    sinks = np.array(
        [f"{EQ.FACILITIES[i % 6]}.{EQ.SEV_CLASS[EQ.SEVERITIES[i % 6]]}" for i in range(8)]
    )[fam]
    exact = np.isin(fam, EQ.US_EXACT_FAMS)
    ts = events["ts"].to_numpy()
    ts = np.where(exact, ts, ts.astype("datetime64[s]").astype("datetime64[us]"))
    for sink in np.unique(sinks):
        d = tmp_path / "routed" / f"sink_key={sink}"
        d.mkdir(parents=True)
        rows = np.flatnonzero(sinks == sink)
        for k, part in enumerate(np.array_split(rows, 2)):
            pq.write_table(
                pa.table({"ts": pa.array(ts[part]), "event_id": events["event_id"].take(pa.array(part))}),
                str(d / f"part-{k}.parquet"),
            )
    return events_path, tmp_path / "routed"


def _problems(events_path, routed_dir) -> list[str]:
    con = connect(events_path)
    try:
        return check_sinks(con, str(routed_dir))
    finally:
        con.close()


def test_check_sinks_accepts_faithful_output(routed):
    assert _problems(*routed) == []


def test_check_sinks_rejects_dropped_file(routed):
    events_path, routed_dir = routed
    victim = sorted(routed_dir.glob("sink_key=*/*.parquet"))[0]
    victim.unlink()
    problems = _problems(events_path, routed_dir)
    assert len(problems) == 1 and victim.parent.name.split("=", 1)[1] in problems[0]


def test_check_sinks_rejects_swapped_sink_key(routed):
    events_path, routed_dir = routed
    a, b = sorted(routed_dir.glob("sink_key=*"))[:2]
    tmp = a.with_name("swap")
    a.rename(tmp)
    b.rename(a)
    tmp.rename(b)
    assert len(_problems(events_path, routed_dir)) == 2


# --------------------------------------------------------------------------
# no process outlives a run
# --------------------------------------------------------------------------
def test_reap_descendants_waits_for_orphaned_grandchildren(tmp_path):
    """A grandchild orphaned by its parent (as the Python worker daemon is
    by the JVM) is waited for, so it has ended when the run exits."""
    pidfile = tmp_path / "grandchild.pid"
    script = f"""
import os, subprocess, sys
sys.path.insert(0, {HERE!r})
from run import become_subreaper, reap_descendants
become_subreaper()
subprocess.run(["sh", "-c", "sleep 0.5 & echo $! > {pidfile}"], check=True)
assert reap_descendants(grace_s=10) == 0
try:
    os.kill(int(open({str(pidfile)!r}).read()), 0)
    print("alive")
except ProcessLookupError:
    print("gone")
"""
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=30)
    assert proc.returncode == 0 and proc.stdout.strip() == "gone", proc.stderr


def test_reap_descendants_kills_what_outlives_the_grace():
    script = f"""
import subprocess, sys
sys.path.insert(0, {HERE!r})
from run import become_subreaper, reap_descendants
become_subreaper()
subprocess.run(["sh", "-c", "sleep 60 &"], check=True)
print(reap_descendants(grace_s=0.2))
"""
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=30)
    assert proc.returncode == 0 and proc.stdout.strip() == "1", proc.stderr
