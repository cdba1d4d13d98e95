"""Count-Min sketch heavy hitters (operators/sketch.py)."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from super_speedy_syslog_searcher_spark.operators.sketch import (
    cms_build,
    cms_estimate_col,
    cms_heavy_hitters,
)


def _skewed(spark, n_keys=60, hot=("k0", 500), seed_rows=2000):
    base = spark.range(seed_rows).select(
        F.concat(F.lit("k"), (F.col("id") % n_keys).cast("string")).alias("key")
    )
    extra = spark.range(hot[1]).select(F.lit(hot[0]).alias("key"))
    return base.unionByName(extra)


class TestCms:
    def test_estimate_is_one_sided_and_tight_for_hot_keys(self, spark):
        df = _skewed(spark)
        exact = {r["key"]: r["n"] for r in df.groupBy("key").agg(F.count("*").alias("n")).collect()}
        sketch = cms_build(df, "key", depth=4, width=512)
        got = df.select("key").distinct().withColumn(
            "est", cms_estimate_col(sketch, F.col("key"), depth=4, width=512)
        ).collect()
        for r in got:
            assert r["est"] >= exact[r["key"]], r  # CMS never underestimates
        # total overestimate is bounded in practice at this load factor
        hot = [r for r in got if r["key"] == "k0"][0]
        assert hot["est"] <= exact["k0"] + 60

    def test_heavy_hitters_superset_of_exact_and_deterministic(self, spark):
        df = _skewed(spark)
        hh = {r["key"]: r for r in cms_heavy_hitters(df, "key", threshold=200, width=512).collect()}
        assert "k0" in hh and hh["k0"]["cms_est"] >= hh["k0"]["exact"]
        exact_heavy = {
            r["key"]
            for r in df.groupBy("key").agg(F.count("*").alias("n")).filter("n >= 200").collect()
        }
        assert exact_heavy <= set(hh)  # one-sided error → never misses a hot key
        again = {r["key"]: r["cms_est"] for r in cms_heavy_hitters(df, "key", threshold=200, width=512).collect()}
        assert again == {k: v["cms_est"] for k, v in hh.items()}
        repart = {
            r["key"]: r["cms_est"]
            for r in cms_heavy_hitters(df.repartition(7), "key", threshold=200, width=512).collect()
        }
        assert repart == again  # layout-invariant

    def test_sketches_merge_cellwise(self, spark):
        """The 100-TB property: sketch(shard A) + sketch(shard B) =
        sketch(A ∪ B) cell-for-cell — partial aggregation and cross-day
        accumulation are the same operation."""
        df = _skewed(spark)
        a = df.filter(F.crc32(F.col("key")) % 2 == 0)
        b = df.filter(F.crc32(F.col("key")) % 2 == 1)
        sa = cms_build(a, "key", depth=3, width=128)
        sb = cms_build(b, "key", depth=3, width=128)
        merged = dict(sa)
        for cell, n in sb.items():
            merged[cell] = merged.get(cell, 0) + n
        assert merged == cms_build(df, "key", depth=3, width=128)


# ---------------------------------------------------------------------------
# HDR log2 quantile sketch
# ---------------------------------------------------------------------------
def test_hdr_rep_properties(spark):
    """rep is monotone, ≤ value, within 2^-k relative error, exact below
    2^(k+1) — checked against a pure-python restatement."""
    from super_speedy_syslog_searcher_spark.operators.sketch import hdr_rep

    vals = [0, 1, 2, 63, 64, 65, 127, 128, 1000, 4095, 4096, 10**6, 10**9, 2**40 + 12345]
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    got = {r["n"]: r["rep"] for r in df.select("n", hdr_rep("n", 5).alias("rep")).collect()}

    def py_rep(n, k=5):
        s = max(n.bit_length() - 1 - k, 0)
        return (n >> s) << s

    prev = -1
    for v in vals:
        r = got[v]
        assert r == py_rep(v), v
        assert r <= v
        if v > 0:
            assert (v - r) / v <= 2**-5
        if v < 64:
            assert r == v
        assert r >= prev
        prev = r


def test_hdr_sketch_merges(spark):
    """Sketch of the union == cnt-wise sum of shard sketches (the
    mergeable property that makes it a cross-shard/streaming structure)."""
    from super_speedy_syslog_searcher_spark.operators.sketch import hdr_histogram

    rng = np.random.RandomState(7)
    rows = [("s%d" % (i % 3), int(rng.randint(1, 100000))) for i in range(2000)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    a, b = rows[:900], rows[900:]
    whole = {
        (r["source"], r["rep"]): r["cnt"]
        for r in hdr_histogram(df).collect()
    }
    merged: dict = {}
    for shard in (a, b):
        sdf = spark.createDataFrame(shard, "source string, n_chars long")
        for r in hdr_histogram(sdf).collect():
            key = (r["source"], r["rep"])
            merged[key] = merged.get(key, 0) + r["cnt"]
    assert whole == merged


def test_hdr_quantiles_equal_rep_of_exact(spark):
    """Monotone bucketing ⇒ the sketch quantile is exactly
    rep(exact_quantile); hence hdr_p ≤ exact_p ≤ hdr_p·(1+2^-k)."""
    from super_speedy_syslog_searcher_spark.operators.curation import length_quantiles
    from super_speedy_syslog_searcher_spark.operators.sketch import hdr_quantiles

    rng = np.random.RandomState(11)
    rows = [
        ("s%d" % (i % 4), int(rng.lognormal(7, 2)) + 1) for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    exact = {r["source"]: r for r in length_quantiles(df).collect()}
    hdr = {r["source"]: r for r in hdr_quantiles(df, k=5).collect()}

    def py_rep(n, k=5):
        s = max(n.bit_length() - 1 - k, 0)
        return (n >> s) << s

    for src in exact:
        for p in (50, 90, 99):
            e, h = exact[src][f"p{p}"], hdr[src][f"hdr_p{p}"]
            assert h == py_rep(e), (src, p, e, h)
            assert h <= e <= h * (1 + 2**-5), (src, p, e, h)


# ---------------------------------------------------------------------------
# explicit-register HyperLogLog
# ---------------------------------------------------------------------------
def _py_hll(keys, b=9, seed="hll"):
    """Independent python statement of the register math."""
    import hashlib

    m, width = 1 << b, 32 - b
    regs: dict = {}
    for k in keys:
        h = int(hashlib.md5(f"{seed}:{k}".encode()).hexdigest()[:8], 16)
        reg, w = h % m, h // m
        rho = width + 1 if w == 0 else width - (w.bit_length() - 1)
        regs[reg] = max(regs.get(reg, 0), rho)
    return regs


def test_hll_registers_match_python(spark):
    from super_speedy_syslog_searcher_spark.operators.sketch import hll_registers

    keys = [f"k{i}" for i in range(3000)]
    df = spark.createDataFrame([("g", k) for k in keys], "source string, key string")
    got = {r["reg"]: r["M"] for r in hll_registers(df, "key").collect()}
    assert got == _py_hll(keys)


def test_hll_merge_is_registerwise_max(spark):
    from super_speedy_syslog_searcher_spark.operators.sketch import hll_registers

    a = [f"a{i}" for i in range(800)]
    b = [f"b{i}" for i in range(800)] + a[:200]  # overlap
    whole = _py_hll(a + b)
    merged: dict = {}
    for shard in (a, b):
        for reg, M in _py_hll(shard).items():
            merged[reg] = max(merged.get(reg, 0), M)
    assert whole == merged
    # and the Spark registers of the union agree
    df = spark.createDataFrame([("g", k) for k in set(a + b)], "source string, key string")
    got = {r["reg"]: r["M"] for r in hll_registers(df, "key").collect()}
    assert got == whole


def test_hll_estimate_accuracy(spark):
    """Corrected estimate within 5x the 1.04/sqrt(m) standard error at
    three cardinalities spanning the small-range boundary. The small-range
    linear-counting correction (m*ln(m/V) when est <= 2.5*m and V > 0) is
    applied here from the profile's hashable integers."""
    import math

    from super_speedy_syslog_searcher_spark.operators.sketch import HLL_B, hll_profile

    m = 1 << HLL_B
    for n in (300, 2000, 20000):
        df = spark.createDataFrame(
            [("g", f"key-{n}-{i}") for i in range(n)], "source string, key string"
        )
        r = hll_profile(df, "key").collect()[0]
        est, v = r["hll_est"], r["hll_v"]
        if est <= 2.5 * m and v > 0:
            est = m * math.log(m / v)
        assert abs(est - n) / n < 5 * 1.04 / (512**0.5), (n, est)


# ---------------------------------------------------------------------------
# distribution drift (TV distance)
# ---------------------------------------------------------------------------
def test_distribution_drift_bounds_and_twin(spark):
    from fractions import Fraction

    from super_speedy_syslog_searcher_spark.operators.summary import distribution_drift

    rng = np.random.RandomState(3)
    ka = [("s", f"k{rng.randint(20)}") for _ in range(500)]
    kb = [("s", f"k{rng.randint(25)}") for _ in range(700)]
    da = spark.createDataFrame(ka, "source string, key string")
    db = spark.createDataFrame(kb, "source string, key string")
    r = distribution_drift(da, db, "key").collect()[0]
    # python twin with exact rationals
    import collections

    ca, cb = collections.Counter(k for _, k in ka), collections.Counter(k for _, k in kb)
    na, nb = len(ka), len(kb)
    num = sum(abs(ca.get(k, 0) * nb - cb.get(k, 0) * na) for k in set(ca) | set(cb))
    assert (r["n_a"], r["n_b"], r["tv_num"]) == (na, nb, num)
    assert r["tv"] == num / (2 * na * nb)  # bit-exact single division
    assert 0.0 <= r["tv"] <= 1.0
    assert Fraction(num, 2 * na * nb) == sum(
        abs(Fraction(ca.get(k, 0), na) - Fraction(cb.get(k, 0), nb))
        for k in set(ca) | set(cb)
    ) / 2  # the cross-multiplied numerator IS the textbook TV, exactly

    # identical snapshots -> 0; disjoint key sets -> 1
    same = distribution_drift(da, da, "key").collect()[0]
    assert same["tv_num"] == 0 and same["tv"] == 0.0
    dc = spark.createDataFrame([("s", "zz")] * 50, "source string, key string")
    disj = distribution_drift(da, dc, "key").collect()[0]
    assert disj["tv"] == 1.0
