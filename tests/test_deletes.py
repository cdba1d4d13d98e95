"""Delete propagation across routed sinks (operators/route.propagate_deletes):
matches purged, clean partitions byte-untouched, full-match partitions
dropped, idempotent re-run."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F


def _files_with_mtimes(pdir):
    return {
        f: os.path.getmtime(os.path.join(pdir, f))
        for f in os.listdir(pdir)
        if f.endswith(".parquet")
    }


def _routed(spark, base):
    rows = spark.range(0, 3000).select(
        F.col("id"),
        F.concat(F.lit("u"), (F.col("id") % 7).cast("string")).alias("user"),
        F.when(F.col("id") % 3 == 0, "a.err")
        .when(F.col("id") % 3 == 1, "b.info")
        .otherwise("c.warn")
        .alias("sink_key"),
        F.concat(F.lit("msg"), F.col("id")).alias("text"),
    )
    rows.repartition(6, "sink_key").write.partitionBy("sink_key").parquet(base)
    return rows


def test_purge_matches_and_leaves_clean_partitions_untouched(spark, tmp_path):
    from super_speedy_syslog_searcher_spark.operators.route import propagate_deletes

    base = str(tmp_path / "routed")
    _routed(spark, base)
    # user u3 appears in every sink; purge it everywhere
    before_counts = {
        r["sink_key"]: r["n"]
        for r in spark.read.parquet(base).groupBy("sink_key").agg(F.count("*").alias("n")).collect()
    }
    report = propagate_deletes(spark, base, F.col("user") == "u3")
    assert "LocalTableScan" in report._jdf.queryExecution().executedPlan().toString()
    rpt = {r["sink_key"]: r for r in report.collect()}
    after = spark.read.parquet(base)
    assert after.filter(F.col("user") == "u3").count() == 0
    for sink, n in before_counts.items():
        assert rpt[sink]["rows_before"] == n
        assert rpt[sink]["rows_after"] == after.filter(F.col("sink_key") == sink).count()
        assert rpt[sink]["rows_deleted"] == n - rpt[sink]["rows_after"]
        assert rpt[sink]["rewritten"]
    # survivors keep every non-matching row
    assert after.count() == sum(r["rows_after"] for r in rpt.values())

    # idempotent re-run: zero deletions, nothing rewritten, files untouched
    mt = _files_with_mtimes(os.path.join(base, "sink_key=a.err"))
    rpt2 = {
        r["sink_key"]: r
        for r in propagate_deletes(spark, base, F.col("user") == "u3").collect()
    }
    assert all(r["rows_deleted"] == 0 and not r["rewritten"] for r in rpt2.values())
    assert _files_with_mtimes(os.path.join(base, "sink_key=a.err")) == mt


def test_clean_partition_files_byte_identical(spark, tmp_path):
    from super_speedy_syslog_searcher_spark.operators.route import propagate_deletes

    base = str(tmp_path / "routed")
    _routed(spark, base)
    # predicate hits only sink a.err rows (id%3==0 AND user u0 ⇒ id%21==0)
    clean_dir = os.path.join(base, "sink_key=b.info")
    before = {
        f: open(os.path.join(clean_dir, f), "rb").read()
        for f in os.listdir(clean_dir)
        if f.endswith(".parquet")
    }
    rpt = {
        r["sink_key"]: r
        for r in propagate_deletes(
            spark, base, (F.col("id") % 21 == 0) & (F.col("sink_key") == "a.err")
        ).collect()
    }
    assert rpt["a.err"]["rewritten"] and not rpt["b.info"]["rewritten"]
    after = {
        f: open(os.path.join(clean_dir, f), "rb").read()
        for f in os.listdir(clean_dir)
        if f.endswith(".parquet")
    }
    assert after == before


def test_full_match_partition_is_dropped(spark, tmp_path):
    from super_speedy_syslog_searcher_spark.operators.route import propagate_deletes

    base = str(tmp_path / "routed")
    _routed(spark, base)
    rpt = {
        r["sink_key"]: r
        for r in propagate_deletes(spark, base, F.col("sink_key") == "c.warn").collect()
    }
    assert rpt["c.warn"]["rows_after"] == 0 and rpt["c.warn"]["rewritten"]
    assert not glob.glob(os.path.join(base, "sink_key=c.warn"))
    left = spark.read.parquet(base)
    assert left.filter(F.col("sink_key") == "c.warn").count() == 0
    assert left.count() == rpt["a.err"]["rows_after"] + rpt["b.info"]["rows_after"]


def test_null_predicate_rows_are_kept(spark, tmp_path):
    from super_speedy_syslog_searcher_spark.operators.route import propagate_deletes

    base = str(tmp_path / "routed")
    rows = spark.createDataFrame(
        [(1, "x", "a.err"), (2, None, "a.err"), (3, "purge", "a.err")],
        "id long, tag string, sink_key string",
    )
    rows.write.partitionBy("sink_key").parquet(base)
    # tag = NULL makes the predicate NULL — the row must survive
    rpt = propagate_deletes(spark, base, F.col("tag") == "purge").collect()[0]
    assert rpt["rows_deleted"] == 1 and rpt["rows_after"] == 2
    kept = {r["id"] for r in spark.read.parquet(base).collect()}
    assert kept == {1, 2}


def test_recover_stale_swaps_restores_and_sweeps(spark, tmp_path):
    """Simulate every crash point of the three-step swap and assert the
    pre-maintenance recovery converges: a partition stranded in ._old
    (crash between renames) is restored, a leftover ._old beside a live
    partition is dropped, and orphan staging dirs are swept."""
    import shutil

    from super_speedy_syslog_searcher_spark.operators.route import propagate_deletes
    from super_speedy_syslog_searcher_spark.sources.iceberg import recover_stale_swaps

    base = str(tmp_path / "routed")
    _routed(spark, base)
    a = os.path.join(base, "sink_key=a.err")
    b = os.path.join(base, "sink_key=b.info")

    # crash point 1: live renamed away, nothing promoted
    os.rename(a, a + "._old")
    # crash point 2: promotion done, ._old left behind
    shutil.copytree(b, b + "._old")
    # incomplete staging rewrites
    shutil.copytree(b, os.path.join(base, "sink_key=c.warn._purge"))
    shutil.copytree(b, os.path.join(base, "sink_key=c.warn._compact"))

    actions = recover_stale_swaps(spark, base)
    assert os.path.isdir(a) and not os.path.isdir(a + "._old")
    assert os.path.isdir(b) and not os.path.isdir(b + "._old")
    assert not glob.glob(os.path.join(base, "*._purge"))
    assert not glob.glob(os.path.join(base, "*._compact"))
    assert len(actions) == 4

    # and the maintenance ops run it implicitly: a purge right after a
    # simulated crash still sees the full table
    os.rename(a, a + "._old")
    rpt = {
        r["sink_key"]: r
        for r in propagate_deletes(spark, base, F.col("user") == "u5").collect()
    }
    assert "a.err" in rpt and rpt["a.err"]["rows_before"] == 1000
