"""Output checks. Each returns a list of problems; an empty list passes.

Route workloads are checked from the committed files alone, with DuckDB, so
the check never re-runs the Spark plan it is checking.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark import entry_queries as EQ


def connect(events_path: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    return con


def check_sinks(con, routed: str) -> list[str]:
    """Per-sink messages / dt_first / dt_last of the committed sinks equal the
    static leg of the DuckDB oracle over the same events."""
    want = con.execute(
        f"SELECT sink_key, messages, dt_first, dt_last FROM ({EQ.SQL_PIPE_ENRICH_SINKS}) WHERE kind = 'static'"
    ).fetchall()
    got = con.execute(
        f"SELECT sink_key, count(*), min(ts)::TIMESTAMP, max(ts)::TIMESTAMP "
        f"FROM read_parquet('{routed}/*/*.parquet', hive_partitioning = true) GROUP BY sink_key"
    ).fetchall()
    want = {r[0]: r[1:] for r in want}
    got = {r[0]: r[1:] for r in got}
    return [
        f"sink {k}: want {want.get(k)} got {got.get(k)}"
        for k in sorted(want.keys() | got.keys())
        if want.get(k) != got.get(k)
    ]


def sink_checksum(con, routed: str) -> tuple[int, int]:
    """(rows, order-insensitive sum of full-row hashes) of the committed sinks."""
    n, h = con.execute(
        f"SELECT count(*), sum(hash(t)) FROM read_parquet('{routed}/*/*.parquet', hive_partitioning = true) t"
    ).fetchone()
    return n, int(h or 0)


def check_route(events_path: str, out_dir: str, lines_in: int) -> tuple[list[str], tuple[int, int]]:
    """Sinks against the oracle, then the counters against each other:
    lines in = hits + misses, and messages = Σ sink rows."""
    routed = f"{out_dir}/routed"
    with connect(events_path) as con:
        problems = check_sinks(con, routed)
        n_rows, checksum = sink_checksum(con, routed)
        hits, misses = con.execute(
            "SELECT sum(n) FILTER (kind = 'hit'), coalesce(sum(n) FILTER (kind = 'miss'), 0) "
            f"FROM read_parquet('{out_dir}/pattern_counts/*.parquet')"
        ).fetchone()
        (sunk,) = con.execute(f"SELECT sum(messages) FROM read_parquet('{out_dir}/sink_counts/*.parquet')").fetchone()
        total = con.execute(
            "SELECT lines_processed, lines_with_dt, syslines "
            f"FROM read_parquet('{out_dir}/summary/*.parquet') WHERE source IS NULL"
        ).fetchone()
    if hits + misses != lines_in:
        problems.append(f"hits {hits} + misses {misses} != lines in {lines_in}")
    if total != (lines_in, hits, n_rows):
        problems.append(f"summary total (lines, with_dt, syslines) {total} != {(lines_in, hits, n_rows)}")
    if sunk != n_rows:
        problems.append(f"sink_counts messages {sunk} != routed rows {n_rows}")
    return problems, (n_rows, checksum)


def check_search(golden: list, rows: list, result: dict, lines_in: int) -> list[str]:
    """Drained rows equal the golden messages inside the window, in merge
    order; lines in = hits + misses; messages = Σ sink rows."""
    problems = []
    if rows != golden:
        i = next((i for i, (a, b) in enumerate(zip(rows, golden)) if a != b), min(len(rows), len(golden)))
        problems.append(
            f"drained {len(rows)} rows, golden {len(golden)}; first difference at {i}: "
            f"{rows[i] if i < len(rows) else None} vs {golden[i] if i < len(golden) else None}"
        )
    counts = result["pattern_counts"].groupBy("kind").agg(F.sum("n").alias("n")).collect()
    by_kind = {r["kind"]: r["n"] for r in counts}
    if by_kind.get("hit", 0) + by_kind.get("miss", 0) != lines_in:
        problems.append(f"hits + misses {by_kind} != lines in {lines_in}")
    sunk = result["sink_counts"].agg(F.sum("messages")).first()[0] or 0
    if sunk != len(rows):
        problems.append(f"sink_counts messages {sunk} != drained rows {len(rows)}")
    return problems
