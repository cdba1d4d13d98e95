"""Z-order layout clustering (operators/zorder.py).

Exactness: the Morton key is pinned against a bit-interleave python
twin. Layout truth: the pruning win is measured from the written
parquet footers themselves — per-file min/max boxes on BOTH dimension
codes — comparing a z-clustered layout against a time-ordered one for
a source-selective predicate.
"""

from __future__ import annotations

import datetime as dt
import glob
import random

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark.operators.zorder import (
    day_code,
    hash_bucket,
    z_value,
    zorder_layout,
)


def _py_z(codes, bits):
    out = 0
    n = len(codes)
    for b in range(bits):
        for i, c in enumerate(codes):
            out |= ((c >> b) & 1) << (b * n + i)
    return out


def test_z_value_matches_python_twin(spark):
    rng = random.Random(3)
    rows = [(rng.randrange(0, 256), rng.randrange(0, 256)) for _ in range(200)]
    rows += [(0, 0), (255, 255), (255, 0), (0, 255), (1, 2)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select(
        "a", "b", z_value([F.col("a"), F.col("b")], 8).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == _py_z((r["a"], r["b"]), 8)


def test_z_value_three_dims_and_bounds(spark):
    df = spark.createDataFrame([(5, 6, 7)], "a long, b long, c long")
    z = df.select(z_value([F.col("a"), F.col("b"), F.col("c")], 4).alias("z")).head()["z"]
    assert z == _py_z((5, 6, 7), 4)
    with pytest.raises(ValueError):
        z_value([F.col("a")], 8)
    with pytest.raises(ValueError):
        z_value([F.col("a"), F.col("b")], 32)


def test_day_code_clamps(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2023, 12, 1),), (dt.datetime(2024, 1, 5),), (dt.datetime(2030, 1, 1),)],
        "ts timestamp",
    )
    got = [r[0] for r in df.select(day_code("ts", "2024-01-01", 8)).collect()]
    assert got == [0, 4, 255]


def _file_boxes(path: str, cols: tuple[str, str]):
    """Per-file (min, max) box on both code columns from parquet footers
    — the exact stats a scan's file/row-group pruning reads."""
    boxes = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.read_metadata(f)
        names = md.schema.names
        lo = [None, None]
        hi = [None, None]
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for k, c in enumerate(cols):
                st = g.column(names.index(c)).statistics
                lo[k] = st.min if lo[k] is None else min(lo[k], st.min)
                hi[k] = st.max if hi[k] is None else max(hi[k], st.max)
        boxes.append(((lo[0], hi[0]), (lo[1], hi[1])))
    return boxes


def _touched(boxes, day_rng=None, bucket=None):
    n = 0
    for (dlo, dhi), (blo, bhi) in boxes:
        ok = True
        if day_rng is not None:
            ok &= not (dhi < day_rng[0] or dlo > day_rng[1])
        if bucket is not None:
            ok &= blo <= bucket <= bhi
        n += ok
    return n


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    # 30 days x 64 sources, uniform — the adversarial case for any
    # single-dimension layout
    rng = random.Random(9)
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randrange(0, 30 * 86400)),
         rng.randrange(0, 64))
        for i in range(40_000)
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, src long")
    coded = ev.select(
        "event_id",
        day_code("ts", "2024-01-01", 8).alias("day"),
        hash_bucket("src", 6).alias("bucket"),
        F.col("ts"),
    )
    n_files = 16
    lin_dir, z_dir = str(tmp_path / "linear"), str(tmp_path / "zorder")
    # time-ordered layout: what a streaming ingest naturally writes
    coded.repartitionByRange(n_files, "ts").sortWithinPartitions("ts").drop("ts") \
        .write.mode("overwrite").parquet(lin_dir)
    zorder_layout(coded.drop("ts"), [F.col("day"), F.col("bucket")], bits=8,
                  num_files=n_files).drop("z").write.mode("overwrite").parquet(z_dir)
    lin = _file_boxes(lin_dir, ("day", "bucket"))
    zod = _file_boxes(z_dir, ("day", "bucket"))
    assert len(lin) == len(zod) == n_files

    # source-selective query: time layout must read every file, the
    # z layout reads only the files whose bucket range covers it
    some_bucket = 11
    assert _touched(lin, bucket=some_bucket) == n_files
    assert _touched(zod, bucket=some_bucket) <= n_files // 2

    # box query (narrow day range AND one bucket): the time layout is
    # already near-optimal on a day range, so z only needs to MATCH it
    # here while winning the bucket-only case above — "good on both
    # dimensions" is the z-order claim, not "optimal on each"
    t_lin = _touched(lin, day_rng=(3, 6), bucket=some_bucket)
    t_z = _touched(zod, day_rng=(3, 6), bucket=some_bucket)
    assert t_z <= t_lin
    assert t_z <= n_files // 4

    # and both layouts hold identical rows
    a = spark.read.parquet(lin_dir).select("event_id", "day", "bucket")
    b = spark.read.parquet(z_dir).select("event_id", "day", "bucket")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_zorder_key_is_partition_invariant(spark):
    rows = [(i, i % 200, (i * 7) % 250) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    k1 = {r["id"]: r["z"] for r in df.repartition(1).select("id", z_value([F.col("a"), F.col("b")], 8).alias("z")).collect()}
    k2 = {r["id"]: r["z"] for r in df.repartition(16).select("id", z_value([F.col("a"), F.col("b")], 8).alias("z")).collect()}
    assert k1 == k2


def test_optimize_sinks_clusters_each_sink(spark, tmp_path):
    """OPTIMIZE-ZORDER over routed sinks: rows checksum-stable, file
    count respects the byte target, and the rewritten layout's per-file
    footer boxes prune a bucket-selective predicate that the original
    insertion-order layout could not."""
    from pyspark.sql import functions as F

    from super_speedy_syslog_searcher_spark.operators.route import optimize_sinks
    from super_speedy_syslog_searcher_spark.operators.zorder import day_code, hash_bucket

    base = str(tmp_path / "routed")
    rng = random.Random(17)
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randrange(0, 20 * 86400)),
         rng.randrange(0, 64), "a.err" if i % 2 == 0 else "b.info")
        for i in range(30_000)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, src long, sink_key string")
    coded = df.select(
        "event_id",
        day_code("ts", "2024-01-01", 8).alias("day"),
        hash_bucket("src", 6).alias("bucket"),
        "sink_key",
    )
    # insertion-order fragmentation: 8 files per sink, z-blind
    coded.repartition(16, "event_id").write.partitionBy("sink_key").parquet(base)
    a_dir = str(tmp_path / "routed" / "sink_key=a.err")
    before_rows = sorted(r["event_id"] for r in spark.read.parquet(a_dir).collect())
    lin_touch = _touched(_file_boxes(a_dir, ("day", "bucket")), bucket=11)
    n_lin = len(_file_boxes(a_dir, ("day", "bucket")))
    assert lin_touch == n_lin  # insertion order: every file matches

    report = optimize_sinks(
        spark, base,
        codes=lambda d: [F.col("day"), F.col("bucket")],
        target_bytes=25_000,
    )
    assert "LocalTableScan" in report._jdf.queryExecution().executedPlan().toString()
    rpt = {r["sink_key"]: r for r in report.collect()}
    assert rpt["a.err"]["rewritten"] and rpt["b.info"]["rewritten"]
    boxes = _file_boxes(a_dir, ("day", "bucket"))
    assert len(boxes) >= 3  # byte target kept multiple files
    assert _touched(boxes, bucket=11) < len(boxes)  # pruning now possible
    after_rows = sorted(r["event_id"] for r in spark.read.parquet(a_dir).collect())
    assert after_rows == before_rows  # pure rewrite
