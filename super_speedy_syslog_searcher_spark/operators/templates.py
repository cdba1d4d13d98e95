"""Log template mining — Drain-style pattern analytics over parsed
messages (He et al. 2017, "Drain: An Online Log Parsing Approach with
Fixed Depth Tree"), in a deterministic masking variant.

Where Drain clusters messages with an online tree (order-dependent —
the template set depends on arrival order), this operator derives each
message's template by a FIXED ordered mask chain, so the result is a
pure function of the corpus: layout-invariant, resume-stable, and
SQL-mirrorable for the driver's DuckDB oracle. The masks live in the
Java-regex ∩ RE2 subset (the same twin discipline as
operators/curation.py) and mask IPv4 addresses, hex literals, and
number runs (floats before integers so an epoch ``1685592000.123``
collapses to ONE ``<NUM>``, not two).

The reference's per-DTPD pattern histogram (`--summary` counters,
src/readers/summary.rs) counts datetime FORMATS; template mining is the
same observability question one level up — what message SHAPES does
each source emit, at what rates — and is the standard first analytics
pass over any log corpus.

Scale shape (100 TB): the mask chain is whole-stage-codegen'd
regexp_replace (map-only); the only shuffle keys on
``(group, template)`` whose hot templates are absorbed by partial
aggregation; the per-group totals table (|groups| rows) broadcasts back
for the share column. No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ordered (pattern, replacement) — Java ∩ RE2, no group refs in the
# replacement so both engines substitute identically
TEMPLATE_MASKS = [
    ("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("\\b0x[0-9a-fA-F]+\\b", "<HEX>"),
    ("\\d+\\.\\d+", "<NUM>"),
    ("\\d+", "<NUM>"),
]
_MASK_TOKEN_RE = "<(IP|HEX|NUM)>"


def template_col(text_col: str | Column) -> Column:
    """The message's template: the ordered mask chain applied in place."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    for pat, rep in TEMPLATE_MASKS:
        t = F.regexp_replace(t, pat, rep)
    return t


def mine_templates(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source",),
    text_col: str = "text",
) -> DataFrame:
    """Template histogram per group: ``(*group_cols, template, n,
    n_params, share)`` where ``n_params`` counts the masked slots and
    ``share`` is the template's fraction of its group's messages
    (rounded to 4 decimals)."""
    gc = list(group_cols)
    t = df.select(*gc, template_col(text_col).alias("template"))
    counts = t.groupBy(*gc, "template").agg(F.count("*").cast("bigint").alias("n"))
    totals = counts.groupBy(*gc).agg(F.sum("n").alias("_tot"))
    return counts.join(F.broadcast(totals), gc).select(
        *gc,
        "template",
        "n",
        F.size(F.expr(f"regexp_extract_all(template, '{_MASK_TOKEN_RE}', 0)"))
        .cast("bigint")
        .alias("n_params"),
        F.round(F.col("n") / F.col("_tot"), 4).alias("share"),
    )
