"""Stateful streaming sequence packing — ``applyInPandasWithState``.

``pack_sequences_stateful`` carries each source's token offset in
GroupState, so sequences keep filling across micro-batches and a
checkpoint restart, and the chunk map equals the batch operator's
(operators/tokens.pack_sequences).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PACK_OUT_SCHEMA = (
    "source string, seq_id long, doc_id string, tok_off long, "
    "seq_off long, chunk_len long, chunk_sum long"
)

PACK_STATE_SCHEMA = "next_start long, last_doc_id string"


def pack_sequences_stateful(docs_stream: DataFrame, max_len: int = 512) -> DataFrame:
    """Streaming GPT-style sequence packing: the per-source token offset
    is GroupState, so sequences keep filling across micro-batches — a
    doc arriving in batch 7 lands at exactly the stream position the
    batch operator (operators/tokens.pack_sequences) would give it.
    Emits the same chunk-map rows as the batch op.

    Ordering contract: packing is defined over each source's doc_id
    order. Docs are sorted by doc_id WITHIN a micro-batch; across
    batches the stream must deliver each source's docs in nondecreasing
    doc_id order (the append-only log shape — new docs get higher ids).
    The contract is ENFORCED, not assumed: the state carries the
    last-seen doc_id per source and a batch whose min doc_id regresses
    below it raises with both ids named — an out-of-order late doc is a
    loud re-pack-upstream signal, never a silent misplacement at the
    current stream offset.

    Scale notes: state is ONE long per source; per-batch work is
    O(tokens in batch) with a numpy prefix sum per doc; the grouping
    shuffle is keyed on source, same as the batch op's repartition.
    """

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        source = key[0]
        start, last_doc = (state.get[0], state.get[1]) if state.exists else (0, None)
        rows = []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values("doc_id")
        if len(pdf) and last_doc is not None and pdf["doc_id"].iloc[0] <= last_doc:
            raise ValueError(
                f"pack_sequences_stateful: source {source!r} received doc_id "
                f"{pdf['doc_id'].iloc[0]!r} after already packing {last_doc!r} — "
                "cross-batch doc_id order regressed; re-pack upstream"
            )
        for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
            toks = np.asarray(toks, dtype=np.int64)
            n = int(toks.size)
            if n == 0:
                continue
            cs = np.concatenate(([0], np.cumsum(toks)))
            first, last = start // max_len, (start + n - 1) // max_len
            for s in range(first, last + 1):
                g0 = max(start, s * max_len)
                g1 = min(start + n, (s + 1) * max_len)
                rows.append((
                    source, s, doc_id, g0 - start, g0 - s * max_len,
                    g1 - g0, int(cs[g1 - start] - cs[g0 - start]),
                ))
            start += n
        if len(pdf):
            last_doc = pdf["doc_id"].iloc[-1]
        state.update((start, last_doc))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["source", "seq_id", "doc_id", "tok_off", "seq_off",
                         "chunk_len", "chunk_sum"],
            )

    return docs_stream.select("source", "doc_id", "tokens").groupBy("source").applyInPandasWithState(
        fn,
        outputStructType=PACK_OUT_SCHEMA,
        stateStructType=PACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
