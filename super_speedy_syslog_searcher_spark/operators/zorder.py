"""Z-order (Morton-curve) data-layout clustering for multi-dimension
file pruning.

The reference seeks within ONE file by timestamp (BlockReader binary
search, src/readers/blockreader.rs) — F4/F5's petabyte-layout analogue
is *which files a query touches at all*. A time-ordered layout prunes
perfectly on `-a`/`-b` but reads EVERY file for a source-selective
query; a source-ordered layout has the mirror problem. Interleaving the
bits of both dimension codes (the Morton/Z curve — Morton 1966, the
same layout Delta/Iceberg `OPTIMIZE ZORDER BY` applies) makes file
min/max ranges tight boxes in BOTH dimensions, so parquet footer stats
prune multi-predicate queries without any index.

Everything here is pure whole-stage-codegen Column algebra (shift/and/
or chains — no UDF), and the layout step is ONE range exchange:
``repartitionByRange`` on the z-value plus a within-partition sort, the
exact shape Spark writes with minimal skew at any scale (range bounds
come from sampling the z distribution). At 100 TB this runs per
ingest-batch or as a compaction rewrite; queries need no change — they
benefit through ordinary footer-stats pruning on the raw columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .curation import hash_bucket as md5_bucket


def hash_bucket(col: Column | str, bits: int, salt: str = "") -> Column:
    """Deterministic engine-portable bucket code in [0, 2**bits):
    ``curation.hash_bucket`` (first 8 hex digits of md5, the repo's
    DuckDB-twin-able hash idiom — xxhash64 has no DuckDB twin) of the
    salted string form."""
    c = F.col(col) if isinstance(col, str) else col
    return md5_bucket(F.concat(F.lit(salt), c.cast("string")), 1 << bits)


def day_code(ts: Column | str, origin: str, bits: int) -> Column:
    """Day index since ``origin`` clamped to [0, 2**bits) — the time
    dimension code (day grain matches the date-partition pruning path
    in operators/filters.py)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    d = F.datediff(F.to_date(c), F.to_date(F.lit(origin))).cast("bigint")
    lo = F.greatest(d, F.lit(0).cast("bigint"))
    return F.least(lo, F.lit((1 << bits) - 1).cast("bigint"))


def z_value(codes: Sequence[Column], bits: int) -> Column:
    """Interleave ``bits`` low bits of each code column (first code owns
    bit 0, the next bit 1, …) into one bigint Morton key. Total bits
    must fit a signed 64-bit int: ``len(codes) * bits <= 62``."""
    n = len(codes)
    if n < 2:
        raise ValueError("z-order needs at least 2 dimensions")
    if n * bits > 62:
        raise ValueError(f"{n} dims x {bits} bits overflows bigint")
    out = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(codes):
            bit = F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, b * n + i))
    return out


def zorder_layout(
    df: DataFrame,
    codes: Sequence[Column],
    bits: int = 16,
    num_files: int = 32,
    z_col: str = "z",
) -> DataFrame:
    """Cluster ``df`` on the Morton key of ``codes``: one range exchange
    (sampled bounds → balanced files regardless of skew in either
    dimension) plus an in-partition sort so row groups inside each file
    stay tight too. Write the result with ``.write.parquet`` /
    ``write_table`` — footer min/max stats on the RAW columns then prune
    multi-dimension predicates."""
    keyed = df.withColumn(z_col, z_value(codes, bits))
    return keyed.repartitionByRange(num_files, z_col).sortWithinPartitions(z_col)
