"""Count-Min sketch heavy hitters — mergeable-sketch top-talker
detection (Cormode & Muthukrishnan 2005), the classic log-pipeline
answer to "which keys are hot?" when per-key exact state is too big.

Reference analogue: the summary counters (SummaryPrinted,
/root/reference/src/printer/summary.rs:151) count per SOURCE — a
bounded key space. The north_rule's 10^12-sequence corpus has unbounded
hot-key questions (users, IPs, templates); the CMS answers them in
``depth × width`` integers regardless of key cardinality.

Scale shape: the sketch build is ONE aggregate over ``depth`` md5
probes per row — partial aggregation collapses the d×w cell space
map-side, so a 10^12-row corpus contributes ≤ d·w rows per task to the
exchange and the final sketch is d·w integers on the driver
(mergeable: sketches of shards ADD cell-wise, the property that makes
this a streaming/cross-day structure). Estimation is map-only against
the broadcast sketch. Candidate enumeration here uses the key column's
distinct values (fine at test scale and for bounded key spaces); at
unbounded cardinality feed any candidate source — a sample, the
previous day's heavy set — through ``cms_estimate_col``; the sketch
itself never grows.

Hashes are the repo's md5 bucket idiom (``curation.hash_bucket``
semantics) so a DuckDB oracle recomputes the IDENTICAL cells and
estimates — the approximate structure is under an exact twin: the
driver gate checks the estimates value-for-value, and ``est >= exact``
(one-sided CMS error) is pinned in pytest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _probe(key: Column, row: int, width: int, seed: str) -> Column:
    """Deterministic cell column for sketch row ``row`` — md5 bucket of
    ``'<seed>:<row>:<key>'``, identical in DuckDB as
    ``CAST('0x'||substr(md5('<seed>:<row>:'||key),1,8) AS BIGINT) % width``."""
    s = F.concat(F.lit(f"{seed}:{row}:"), key.cast("string"))
    h = F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 8), 16, 10)
    return (h.cast("long") % width)


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: str = "cms",
) -> dict[tuple[int, int], int]:
    """Corpus → the d×w sketch as a dict {(row, col): count} (only
    occupied cells; absent = 0). One tagged-explode scan + one bounded
    aggregate."""
    key = F.col(key_col)
    cells = df.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(r).alias("r"), _probe(key, r, width, seed).alias("c"))
                for r in range(depth)
            ])
        ).alias("p")
    ).groupBy("p.r", "p.c").count()
    return {(int(x["r"]), int(x["c"])): int(x["count"]) for x in cells.collect()}


def cms_estimate_col(
    sketch: dict[tuple[int, int], int],
    key: Column,
    depth: int = 4,
    width: int = 1024,
    seed: str = "cms",
) -> Column:
    """min over sketch rows of the key's cell — pure Column algebra over
    the broadcast (closure-captured) bounded sketch: each row's cell
    lookup is a CASE chain over that row's OCCUPIED columns only (a key
    probing an empty cell short-circuits to 0)."""
    est = None
    for r in range(depth):
        col = _probe(key, r, width, seed)
        row_cells = {c: n for (rr, c), n in sketch.items() if rr == r}
        if row_cells:
            lookup = F.element_at(
                F.create_map(*[
                    x for c, n in sorted(row_cells.items())
                    for x in (F.lit(c), F.lit(n))
                ]),
                col,
            )
            cell = F.coalesce(lookup, F.lit(0))
        else:
            cell = F.lit(0)
        est = cell if est is None else F.least(est, cell)
    return est.cast("bigint")


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold: int,
    depth: int = 4,
    width: int = 1024,
    seed: str = "cms",
    with_exact: bool = True,
) -> DataFrame:
    """Keys whose CMS ESTIMATE ≥ threshold, with the estimate (and the
    exact count alongside when ``with_exact``, so the one-sided error
    ``est >= exact`` is visible/testable). Distinct-key candidates at
    this scale; see the module docstring for the unbounded-cardinality
    composition."""
    sketch = cms_build(df, key_col, depth=depth, width=width, seed=seed)
    keys = df.groupBy(key_col).agg(F.count("*").alias("exact"))
    est = cms_estimate_col(sketch, F.col(key_col), depth=depth, width=width, seed=seed)
    out = keys.withColumn("cms_est", est).filter(F.col("cms_est") >= threshold)
    if with_exact:
        return out.select(key_col, "cms_est", F.col("exact").cast("bigint").alias("exact"))
    return out.select(key_col, "cms_est")


# ---------------------------------------------------------------------------
# HDR-histogram-style log2 quantile sketch
# ---------------------------------------------------------------------------
# Public design: HdrHistogram (Tene) / Prometheus native histograms —
# values bucket by (exponent, top-k mantissa bits), so the histogram is
# bounded (≤ 2^k buckets per octave × 64 octaves) with a guaranteed
# relative error ≤ 2^-k, and buckets are INTEGERS (the representative =
# the value with its low bits zeroed), so Spark and the DuckDB oracle
# agree bit-exactly — no float log/pow on either side (the reason this
# sketch is preferred here over float-bucketed DDSketch).
#
# Scale shape (100 TB): the raw column collapses to the (stratum, rep)
# histogram in ONE partial-aggregable groupBy — map-side combine absorbs
# the per-task value stream, the exchange carries ≤ strata × buckets
# rows, and sketches MERGE by adding counts (cross-day / cross-shard /
# streaming-ready, same property as the CMS above). Quantile extraction
# then runs on bounded rows only — never a window over raw data.


def hdr_rep(value_col: str, k: int = 5) -> Column:
    """Bucket representative of a non-negative integer column: keep the
    top ``k+1`` significant bits, zero the rest (values < 2^(k+1) are
    exact). Pure integer ops — identical in DuckDB as
    ``(v >> s) << s`` with ``s = greatest(length(bin(v))-1-k, 0)``."""
    n = f"CAST({value_col} AS BIGINT)"
    s = f"greatest(length(bin({n})) - 1 - {k}, 0)"
    return F.expr(f"shiftleft(shiftright({n}, {s}), {s})")


def hdr_histogram(
    df: DataFrame, stratum_col: str = "source", value_col: str = "n_chars", k: int = 5
) -> DataFrame:
    """Per-stratum bounded histogram ``(stratum, rep, cnt)`` — the
    mergeable sketch state (union of shards ≡ cnt-wise sum)."""
    return (
        df.select(stratum_col, hdr_rep(value_col, k).alias("rep"))
        .groupBy(stratum_col, "rep")
        .agg(F.count("*").alias("cnt"))
    )


def hdr_quantiles_from_hist(
    hist: DataFrame,
    group_cols: tuple[str, ...] = ("source",),
    pcts: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Quantile extraction from an ``(.., rep, cnt)`` HDR histogram —
    runs on BOUNDED rows only (≤ groups × buckets), so the windows here
    never see raw data. Histograms from any producer compose: batch
    shards, micro-batches, or per-window streaming state all merge by
    summing ``cnt`` first."""
    from pyspark.sql import Window

    gc = list(group_cols)
    w_cum = Window.partitionBy(*gc).orderBy("rep")
    w_all = Window.partitionBy(*gc)
    cum = hist.select(
        *gc,
        "rep",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    aggs = [
        F.min(F.when(F.col("cum") * 100 >= F.lit(p) * F.col("total"), F.col("rep"))).alias(
            f"hdr_p{p}"
        )
        for p in pcts
    ]
    return cum.groupBy(*gc).agg(*aggs)


def hdr_quantiles(
    df: DataFrame,
    stratum_col: str = "source",
    value_col: str = "n_chars",
    k: int = 5,
    pcts: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Relative-error quantiles from the HDR sketch, same integer
    cumulative rule as :func:`..curation.length_quantiles` (smallest rep
    with cum*100 >= p*total). Because value→rep is monotone, the result
    is EXACTLY ``rep(exact_quantile)`` — pinned in tests — hence
    ``hdr_p <= exact_p < hdr_p * (1 + 2^-k) + 1``."""
    return hdr_quantiles_from_hist(
        hdr_histogram(df, stratum_col, value_col, k), (stratum_col,), pcts
    )


# ---------------------------------------------------------------------------
# HyperLogLog with an engine-exact twin
# ---------------------------------------------------------------------------
# Flajolet et al. 2007. Spark's approx_count_distinct is HLL++ over an
# internal xxhash — a DuckDB oracle cannot reproduce it, so its sketches
# cannot sit under a value hash. This explicit
# HLL keeps every piece engine-exact: the register/rho split is integer
# math on the md5-32 bucket idiom; the harmonic denominator
# sum_j 2^(-M_j) is carried as the EXACT INTEGER S = sum_j 2^(SCALE-M_j)
# (M_j <= 32-b+1 < SCALE, and m * 2^SCALE < 2^63 — no float sum whose
# partial-order could round differently per engine); the raw estimate is
# then ONE correctly-rounded division alpha*m^2*2^SCALE / S of exactly
# representable operands — bit-identical in Spark and DuckDB, so even
# the float estimate sits under a value hash. The small-range linear-
# counting correction needs ln (not correctly rounded in either engine),
# so a caller applies it OUTSIDE the hashable face, from the same
# hashable integers (V, m): m*ln(m/V) when est <= 2.5*m and V > 0.
#
# Scale shape: registers form in one partial-aggregable groupBy (the
# exchange carries <= groups x m rows); sketches MERGE by register-wise
# max — cross-shard / cross-day / streaming-ready.

HLL_B = 9  # m = 512 registers, standard error 1.04/sqrt(m) ≈ 4.6%
HLL_SCALE = 40  # integer harmonic-sum scaling exponent


def _hll_h32(key: Column, seed: str) -> Column:
    s = F.concat(F.lit(f"{seed}:"), key.cast("string"))
    return F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 8), 16, 10).cast("long")


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = ("source",),
    b: int = HLL_B,
    seed: str = "hll",
) -> DataFrame:
    """Occupied-register table ``(*group_cols, reg, M)`` — the mergeable
    sketch state (merge = register-wise max across shards)."""
    m = 1 << b
    width = 32 - b
    h = _hll_h32(F.col(key_col), seed)
    reg = (h % m).cast("int")
    w = F.floor(h / m).cast("long")  # top 32-b bits
    rho = (
        F.when(w == 0, F.lit(width + 1))
        .otherwise(F.lit(width) - (F.length(F.bin(w)) - F.lit(1)))
        .cast("int")
    )
    return (
        df.select(*group_cols, reg.alias("reg"), rho.alias("rho"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("M"))
    )


def hll_alpha_num(b: int = HLL_B, scale: int = HLL_SCALE) -> float:
    """The constant numerator alpha_m * m^2 * 2^scale, as the one float
    literal both engines parse (decimal->double is correctly rounded)."""
    m = 1 << b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << scale)


def hll_profile(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = ("source",),
    b: int = HLL_B,
    seed: str = "hll",
) -> DataFrame:
    """Per-group HLL summary ``(.., hll_s, hll_v, hll_est)``:
    ``hll_s`` = the exact integer harmonic sum, ``hll_v`` = empty
    registers, ``hll_est`` = the raw HLL estimate (bit-exact across
    engines). The small-range fix is the caller's (see above)."""
    m = 1 << b
    regs = hll_registers(df, key_col, group_cols, b, seed)
    per = regs.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("_occ"),
        F.sum(F.expr(f"shiftleft(1L, {HLL_SCALE} - M)")).cast("long").alias("_s_occ"),
    )
    s = (F.col("_s_occ") + (F.lit(m) - F.col("_occ")) * F.lit(1 << HLL_SCALE)).cast("long")
    return per.select(
        *group_cols,
        s.alias("hll_s"),
        (F.lit(m) - F.col("_occ")).cast("long").alias("hll_v"),
        (F.lit(hll_alpha_num(b)) / s.cast("double")).alias("hll_est"),
    )


# ---------------------------------------------------------------------------
# Misra-Gries mergeable heavy hitters (deterministic counter-based sketch)
# ---------------------------------------------------------------------------


def mg_heavy_hitters(
    df: DataFrame,
    key_col: str,
    k: int = 64,
    group_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Misra-Gries / SpaceSaving-family heavy hitters per group — the
    DETERMINISTIC counter sketch beside the randomized CMS
    (``cms_heavy_hitters``): ≤ k−1 counters per group, and after any
    merge order the classic guarantees hold (Misra & Gries 1982;
    mergeability per Agarwal et al. 2012, "Mergeable Summaries"):

    * ``est ≤ true_count`` (counts only ever decrement), and
    * ``true_count − est ≤ n/k`` (n = group's row count), so
    * every key with ``true_count > n/k`` is PRESENT in the output.

    Unlike the CMS there are no hash collisions and no failure
    probability — the price is that absent keys carry no estimate.

    Implementation uses the exact-counts characterization of the MG
    summary: for a bag countable within one task, the tightest valid
    MG(k) state is ``count − δ`` for the keys where that is positive,
    with ``δ`` = the k-th largest count (0 if fewer than k keys) —
    exactly what the streaming decrement algorithm converges to, with
    δ ≤ n_batch/k by the pigeonhole. Each Arrow batch reduces to that
    bounded state vectorized (pandas value_counts + nlargest — no
    per-row Python); states then MERGE with the same rule: sum per
    key, subtract the new k-th largest, prune.

    100-TB shape: stage 1 is map-only (each task emits ≤ k−1 rows per
    group it sees); the only exchange carries ≤ tasks × (k−1) rows per
    group; the merge windows run over that bounded table, never the
    corpus. Totals ``n`` come from the same scan's exact group counts
    (one partial-agg exchange of |groups| rows). The output is
    layout-DEPENDENT within its error envelope (which partition
    boundaries split which runs), so the sketch is pytest-pinned by its
    guarantees across layouts rather than hash-gated — the same
    evidence class as the HLL register-merge bound tests.
    """
    import pandas as pd

    from pyspark.sql import Window

    gc = list(group_cols)

    def _summarize(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            counts = (
                pdf.groupby(gc + [key_col], sort=False, dropna=False)
                .size()
                .rename("c")
                .reset_index()
            )
            outs = []
            for _, grp in counts.groupby(gc, sort=False, dropna=False):
                if len(grp) >= k:
                    delta = int(grp["c"].nlargest(k).iloc[-1])
                    grp = grp.assign(c=grp["c"] - delta)
                    grp = grp[grp["c"] > 0]
                outs.append(grp)
            if outs:
                out = pd.concat(outs, ignore_index=True)
                out["c"] = out["c"].astype("int64")
                yield out

    key_type = df.schema[key_col].dataType.simpleString()
    gtypes = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in gc)
    stage1 = df.select(*gc, key_col).mapInPandas(
        _summarize, schema=f"{gtypes}, {key_col} {key_type}, c long"
    )
    summed = stage1.groupBy(*gc, key_col).agg(F.sum("c").alias("c"))
    w = Window.partitionBy(*gc).orderBy(F.desc("c"), F.col(key_col))
    ranked = summed.withColumn("_rn", F.row_number().over(w))
    kth = (
        ranked.filter(F.col("_rn") == k)
        .select(*gc, F.col("c").alias("_delta"))
    )
    totals = df.groupBy(*gc).agg(F.count("*").alias("n"))
    return (
        ranked.join(kth, gc, "left")
        .withColumn("est", F.col("c") - F.coalesce("_delta", F.lit(0)))
        .filter(F.col("est") > 0)
        .join(totals, gc)
        .select(*gc, key_col, F.col("est").cast("long"), "n")
    )

