from __future__ import annotations

import sys
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from super_speedy_syslog_searcher_spark.session import get_spark


@pytest.fixture(scope="session", autouse=True)
def _host_lock():
    """Serialize the suite against bench.py / tools/bench_scaling.py on
    this host (VERDICT r4 #10): both take the same flock, so a timed
    bench leg can never overlap a draining pytest session. Lock dies
    with the process — a crashed run never wedges the next."""
    from super_speedy_syslog_searcher_spark.hostlock import HostLock

    with HostLock("pytest"):
        yield


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="s4spark-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus():
    from super_speedy_syslog_searcher_spark.sources.tokenized import gen_corpus

    return gen_corpus(n_docs=60, lines_per_doc=12, n_sources=12, seed=42)


@pytest.fixture
def driver_tz(monkeypatch):
    """``driver_tz(zone)`` puts the driver process in ``zone`` (``TZ`` +
    ``tzset``): ``collect()`` then returns naive wall-clock datetimes of that
    zone. The zone is restored after the test."""

    def set_zone(zone: str) -> None:
        monkeypatch.setenv("TZ", zone)
        time.tzset()

    yield set_zone
    monkeypatch.undo()
    time.tzset()
