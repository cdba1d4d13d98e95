"""The merge's source-order tie-break and range exchange, and the local
dimension tables: the order index is a literal map lookup (no join, no
Python-RDD table), the range exchange with no explicit count may coalesce
without losing the global order, and `local_df` tables scan locally."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark.operators.merge import SORT_KEYS, global_sort, with_source_order

ROW_DDL = "ts timestamp, ts_ns int, source string, doc_id string, msg_no int"
BASE = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _rows():
    """600 rows over 5 sources; every third row sits on ONE hot timestamp,
    so most of the order comes from the tie-break columns. Then a NULL
    source and two sources whose doc ids order against their names, all
    on the hot timestamp."""
    rows = []
    for i in range(600):
        hot = i % 3 == 0
        ts = BASE if hot else BASE + timedelta(seconds=i % 17)
        rows.append((ts, 0 if hot else i % 2, f"s{i % 5}", f"d{i % 40:03d}", i))
    rows += [(BASE, 0, None, "d000", 0), (BASE, 0, "s4", "a000", 0), (BASE, 0, "s0", "z999", 0)]
    return rows


def test_duplicate_source_keeps_first_position_and_every_row(spark):
    df = spark.createDataFrame(
        [(BASE, 0, "a", "d0", 0), (BASE, 0, "a", "d1", 0), (BASE, 0, "b", "d2", 0)], ROW_DDL
    )
    out = with_source_order(df, ["a", "b", "a"]).collect()
    assert sorted((r["doc_id"], r["source_order"]) for r in out) == [("d0", 0), ("d1", 0), ("d2", 1)]


def test_unlisted_and_null_sources_sort_last(spark):
    """Unlisted and NULL sources take the last position and order by name
    among themselves, NULL last; with no list the sources sort
    lexicographically, a NULL source last."""
    df = spark.createDataFrame(
        [(BASE, 0, "b", "d3", 0), (BASE, 0, "zz", "d0", 0), (BASE, 0, None, "d1", 0), (BASE, 0, "c", "d2", 0)],
        ROW_DDL,
    )

    def merged(frame, sources=None):
        return [r["doc_id"] for r in global_sort(frame, num_partitions=3, sources_in_order=sources).collect()]

    last = 2**31 - 1
    index = {r["doc_id"]: r["source_order"] for r in with_source_order(df, ["a", "b"]).collect()}
    assert index == {"d3": 1, "d0": last, "d1": last, "d2": last}
    assert merged(df, ["a", "b"]) == ["d3", "d2", "d0", "d1"]
    assert merged(df, ["zz", "b"]) == ["d0", "d3", "d2", "d1"]
    assert merged(df) == ["d3", "d2", "d0", "d1"]
    assert merged(df.filter("source IS NULL")) == ["d1"]


def test_source_order_is_a_projection(spark):
    df = spark.createDataFrame(_rows(), ROW_DDL)
    plan = with_source_order(df, [f"s{i}" for i in range(5)])._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan


def _driver_sorted(rows, order=None):
    """``rows`` as ``SORT_KEYS`` tuples, sorted on the driver: unlisted and
    NULL sources last, then by source name, NULL last."""
    last = 2**31 - 1
    rank = {s: i for i, s in enumerate(order or [])}
    keyed = [(ts.replace(tzinfo=None), ns, rank.get(src, last), src, doc, m) for ts, ns, src, doc, m in rows]
    return sorted(keyed, key=lambda k: (*k[:3], k[3] is None, k[3] or "", *k[4:]))


@pytest.mark.parametrize("n", [None, 12])
def test_global_sort_partitions_and_order(spark, n):
    """No count: at most ``spark.sql.shuffle.partitions`` partitions (AQE
    may merge adjacent ranges). An explicit count is kept exactly, even
    above the shuffle setting. Either way, reading the partitions in order
    gives the driver-side sort on SORT_KEYS, hot-timestamp ties included."""
    rows = _rows()
    order = [f"s{i}" for i in (3, 0, 4, 1, 2)]
    merged = global_sort(spark.createDataFrame(rows, ROW_DDL), num_partitions=n, sources_in_order=order)
    n_parts = merged.rdd.getNumPartitions()
    if n is None:
        assert 1 <= n_parts <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    else:
        assert n_parts == n
    got = merged.withColumn("_pid", F.spark_partition_id()).collect()
    pids = [r["_pid"] for r in got]
    assert pids == sorted(pids)
    assert [tuple(r[k] for k in SORT_KEYS) for r in got] == _driver_sorted(rows, order)


def test_global_sort_without_list_orders_by_source_name(spark):
    """With no source list the partition-order read is the driver-side sort
    on (ts, ts_ns, source with NULL last, doc_id, msg_no), hot-timestamp
    ties included."""
    rows = _rows()
    got = global_sort(spark.createDataFrame(rows, ROW_DDL)).withColumn("_pid", F.spark_partition_id()).collect()
    pids = [r["_pid"] for r in got]
    assert pids == sorted(pids)
    want = sorted(
        ((ts.replace(tzinfo=None), ns, src, doc, m) for ts, ns, src, doc, m in rows),
        key=lambda k: (k[0], k[1], k[2] is None, k[2] or "", k[3], k[4]),
    )
    assert [(r["ts"], r["ts_ns"], r["source"], r["doc_id"], r["msg_no"]) for r in got] == want


def test_run_pipeline_plans_read_no_python_rdd(spark, corpus, tmp_path):
    """``merged`` and ``sink_counts`` over the registry's enrichment table:
    no ``Scan ExistingRDD`` anywhere (the dimension is a local relation)
    and the only join is the enrichment's."""
    from super_speedy_syslog_searcher_spark import entry_queries as EQ
    from super_speedy_syslog_searcher_spark.plans.pipeline import PipelineConfig, run_pipeline

    docs_pd = corpus[0]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(docs_pd, "doc_id string, tokens array<int>, n_tok int, source string").write.parquet(path)
    sources = sorted(set(docs_pd["source"]))
    res = run_pipeline(
        spark.read.parquet(path), EQ.enrichment_df(spark), PipelineConfig(sources_in_order=sources)
    )
    try:
        for name in ("merged", "sink_counts"):
            df = res[name]
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
            assert "Scan ExistingRDD" not in plan, (name, plan)
            assert plan.count("Join") == plan.count("BroadcastHashJoin") == 1, (name, plan)
    finally:
        res["parsed_lines"].unpersist()


def test_local_df_keeps_schema_and_values(spark):
    """``local_df`` scans as a LocalTableScan with exactly the DDL schema and
    the values ``createDataFrame(list)`` gives, naive (local wall-clock) and
    aware timestamps and NULLs included; no rows still types every column."""
    from super_speedy_syslog_searcher_spark.session import local_df

    ddl = "_pid int, source string, _base timestamp"
    rows = [(0, "a", BASE), (1, None, datetime(2024, 1, 5, 3, 4, 5, 123456)), (2, "b", None)]
    got = local_df(spark, rows, ddl)
    assert got.schema == spark.createDataFrame([], ddl).schema
    assert got.collect() == spark.createDataFrame(rows, ddl).collect()
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()
    order = local_df(spark, [], "source string, source_order int")
    assert order.schema.simpleString() == "struct<source:string,source_order:int>" and order.count() == 0
