"""Rejects channel — the per-file error stream as a sink table.

Reference: per-file processing failures become ``FileProcessingResult``
variants printed before output (/root/reference/src/common.rs:434-484;
handling src/bin/s4.rs:3241-3290) — e.g. ``FileErrNoSyslinesFound`` when
block-zero analysis finds no datetime-bearing lines
(syslogprocessor.rs:911). Here rejects are ROWS, not log lines:
``(source, doc_id, error_kind, detail)`` written next to the routed
sinks, so a 100 TB run's failures are queryable like everything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ERR_NO_SYSLINES = "no_syslines_found"  # ≙ FileErrNoSyslinesFound


def doc_rejects(parsed_lines_or_msgs: DataFrame, docs: DataFrame) -> DataFrame:
    """Docs that produced NO messages (no parseable datetime anywhere) —
    the FileErrNoSyslinesFound analogue, via a broadcast-free anti-join of
    the doc catalog against message doc_ids."""
    emitted = parsed_lines_or_msgs.select("doc_id").distinct()
    return (
        docs.join(emitted, "doc_id", "left_anti")
        .select(
            "source",
            "doc_id",
            F.lit(ERR_NO_SYSLINES).alias("error_kind"),
            F.concat(F.lit("n_tok="), F.col("n_tok").cast("string")).alias("detail"),
        )
    )
