"""Token ↔ text codec for the pre-tokenized corpus (BASELINE.json input_hint).

Input rows are ``(doc_id string, tokens array<int32>, n_tok int32,
source string)`` where each token is a Unicode codepoint, so decode is
``''.join(chr(t))`` and encode is ``[ord(c) for c in text]`` — deterministic
and invertible. Lines inside a document are separated by token 10 (``\\n``).

The per-row invariant demanded by BASELINE.json is that routed output rows
carry the ORIGINAL token slice of their message untouched; therefore the
line-splitting UDF splits the token array itself (not the decoded text) so
each line's token slice is carried alongside its decoded text and message
token arrays are rebuilt by re-joining line slices with token 10 — never by
re-encoding text.

Reference parity: the reference reads bytes into Blocks and materializes
Lines as zero-copy slices over them (/root/reference/src/data/line.rs:37,
/root/reference/src/readers/linereader.rs:1510). Here the "block" is the
Arrow batch and the "line" is a row carrying (line_no, line_tokens, text).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NEWLINE_TOKEN = 10

LINES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("line_no", T.IntegerType()),
        T.StructField("line_tokens", T.ArrayType(T.IntegerType())),
        T.StructField("text", T.StringType()),
    ]
)


def decode_tokens_array(tokens: np.ndarray) -> str:
    """Decode one token array to text (driver/test helper)."""
    return "".join(map(chr, tokens))


def encode_text(text: str) -> list[int]:
    """Encode text to tokens (generator-side only — never in the pipeline)."""
    return [ord(c) for c in text]


@F.pandas_udf(T.ArrayType(T.IntegerType()))
def encode_text_udf(text: pd.Series) -> pd.Series:
    """string → array<int32> codepoints (corpus construction only — the
    pipeline itself NEVER re-encodes; see module docstring)."""
    return text.map(
        lambda t: np.frombuffer(t.encode("utf-32-le"), dtype=np.int32) if t is not None else None
    )


@F.pandas_udf(T.StringType())
def decode_tokens_udf(tokens: pd.Series) -> pd.Series:
    """array<int32> codepoints → string, Arrow-batched.

    Decodes the whole batch with one numpy pass: concatenate all token
    arrays, vectorize chr via np.char on a uint32 view, then split by the
    per-row lengths. Avoids per-token Python round-trips.
    """
    if len(tokens) == 0:
        return pd.Series([], dtype=object)
    lengths = tokens.map(len).to_numpy()
    if lengths.sum() == 0:
        return pd.Series([""] * len(tokens), index=tokens.index)
    flat = np.concatenate([np.asarray(t, dtype=np.uint32) for t in tokens])
    invalid = (flat > 0x10FFFF) | ((flat >= 0xD800) & (flat <= 0xDFFF))
    if invalid.any():
        flat = flat.copy()
        flat[invalid] = 0xFFFD  # malformed tokens → replacement char
    # one bulk decode: uint32 codepoints viewed as UTF-32LE text
    all_text = flat.tobytes().decode("utf-32-le")
    # np.cumsum gives the split offsets in characters == tokens
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    out = [all_text[offsets[i] : offsets[i + 1]] for i in range(len(lengths))]
    return pd.Series(out, index=tokens.index)


def split_docs_batch(doc_ids, sources, tokens) -> pd.DataFrame:
    """Vectorized doc→lines split for a WHOLE batch: one concatenate, one
    newline scan, offset arithmetic — no per-doc Python loop. Line token
    slices are numpy views into the flat buffer (zero-copy until Arrow).

    Returns a pandas frame with LINES_SCHEMA columns.
    """
    n_docs = len(doc_ids)
    if n_docs == 0:
        return pd.DataFrame({
            "doc_id": pd.Series(dtype=object), "source": pd.Series(dtype=object),
            "line_no": pd.array([], dtype="int32"), "line_tokens": pd.Series(dtype=object),
            "text": pd.Series(dtype=object),
        })
    arrs = [np.asarray(t, dtype=np.int32) for t in tokens]
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n_docs)
    flat = np.concatenate(arrs) if len(arrs) > 1 else arrs[0]
    doc_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    doc_ends = doc_starts + lens

    nl = np.flatnonzero(flat == NEWLINE_TOKEN)
    nl_doc = np.searchsorted(doc_ends, nl, side="right")  # doc index per newline
    starts_from_nl = nl + 1
    keep = starts_from_nl < doc_ends[nl_doc]  # trailing '\n' opens no empty line
    line_starts = np.sort(np.concatenate((doc_starts[lens > 0], starts_from_nl[keep])))
    line_doc = np.searchsorted(doc_ends, line_starts, side="right")
    # line end = next newline at/after the start, capped at the OWN doc's
    # end (a neighbouring doc's boundary offset must never terminate a line)
    if len(nl):
        nxt = np.searchsorted(nl, line_starts, side="left")
        cand = np.where(nxt < len(nl), nl[np.minimum(nxt, len(nl) - 1)], np.iinfo(np.int64).max)
    else:
        cand = np.full(len(line_starts), np.iinfo(np.int64).max)
    line_ends = np.minimum(cand, doc_ends[line_doc])
    # line_no = running index within each doc
    first_of_doc = np.concatenate(([True], line_doc[1:] != line_doc[:-1]))
    idx = np.arange(len(line_starts))
    line_no = idx - np.maximum.accumulate(np.where(first_of_doc, idx, 0))

    # malformed tokens (negative, surrogate, > U+10FFFF) must not kill the
    # task at corpus scale: decode a sanitized copy (U+FFFD replacement),
    # while line_tokens slices keep the ORIGINAL values (the token-array
    # invariant is about provenance, not printability)
    u = flat.astype(np.uint32, copy=False)
    invalid = (u > 0x10FFFF) | ((u >= 0xD800) & (u <= 0xDFFF))
    if invalid.any():
        u = u.copy()
        u[invalid] = 0xFFFD
    all_text = u.tobytes().decode("utf-32-le")
    texts = [all_text[s:e] for s, e in zip(line_starts.tolist(), line_ends.tolist())]
    toks = [flat[s:e] for s, e in zip(line_starts.tolist(), line_ends.tolist())]
    ids = np.asarray(doc_ids, dtype=object)
    srcs = np.asarray(sources, dtype=object)
    return pd.DataFrame(
        {
            "doc_id": ids[line_doc],
            "source": srcs[line_doc],
            "line_no": pd.array(line_no, dtype="int32"),
            "line_tokens": toks,
            "text": texts,
        }
    )


def doc_line_stats(tokens: Column) -> tuple[Column, Column]:
    """(lines, chars) of each doc under ``split_docs_batch``'s rule, as JVM
    expressions over its token array: every newline ends a line except a
    trailing one, an empty doc has no lines, and every other token is one
    char of a line's text."""
    n = F.size(tokens)
    n_nl = F.size(F.filter(tokens, lambda t: t == NEWLINE_TOKEN))
    trailing_nl = (F.get(tokens, n - 1) == NEWLINE_TOKEN).cast("int")
    return F.when(n > 0, n_nl + 1 - trailing_nl).otherwise(0), n - n_nl


def explode_lines(docs: DataFrame) -> DataFrame:
    """(doc_id, tokens, source) → one row per line with its token slice.

    mapInPandas keeps this a narrow (no-shuffle) stage; the per-line token
    slice preserves the token-array invariant end-to-end.
    """

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield split_docs_batch(pdf["doc_id"].to_numpy(), pdf["source"].to_numpy(), pdf["tokens"])

    return docs.select("doc_id", "source", "tokens").mapInPandas(_gen, schema=LINES_SCHEMA)


def rejoin_message_tokens(line_tokens_col):
    """Column expr: array<array<int>> (ordered line slices) → one message
    token array with NEWLINE_TOKEN re-inserted between lines.

    JVM-side (flatten/transform), no UDF: message tokens must equal the
    original doc slice byte-for-byte (token-for-token).
    """
    with_nl = F.transform(line_tokens_col, lambda x: F.concat(x, F.array(F.lit(NEWLINE_TOKEN))))
    flat = F.flatten(with_nl)
    return F.slice(flat, 1, F.size(flat) - 1)
