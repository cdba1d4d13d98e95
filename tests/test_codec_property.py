"""Property-based tests for the token codec / batch splitter (pure
functions — no Spark session): for ANY documents, splitting then
rejoining with newlines reproduces the original text and token slices
concatenate back to the original arrays (the token-array invariant).
One Spark test checks the JVM line/char counts against the splitter."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from super_speedy_syslog_searcher_spark.functions.codec import (
    NEWLINE_TOKEN,
    doc_line_stats,
    encode_text,
    split_docs_batch,
)

# printable-ish unicode incl. newlines, tabs, astral chars
doc_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), min_codepoint=1),
    max_size=200,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(doc_text, min_size=1, max_size=8))
def test_split_roundtrip(texts):
    ids = np.array([f"d{i}" for i in range(len(texts))], dtype=object)
    srcs = np.array(["s"] * len(texts), dtype=object)
    toks = [np.array(encode_text(t), dtype=np.int32) for t in texts]
    pdf = split_docs_batch(ids, srcs, toks)

    for i, t in enumerate(texts):
        g = pdf[pdf["doc_id"] == f"d{i}"].sort_values("line_no")
        joined = "\n".join(g["text"])
        want = t[:-1] if t.endswith("\n") else t
        assert joined == want
        # token invariant: line slices + newlines == original token array
        if len(g):
            rebuilt = []
            for j, lt in enumerate(g["line_tokens"]):
                if j:
                    rebuilt.append(np.array([NEWLINE_TOKEN], dtype=np.int32))
                rebuilt.append(np.asarray(lt, dtype=np.int32))
            flat = np.concatenate(rebuilt) if rebuilt else np.array([], dtype=np.int32)
            orig = toks[i]
            if t.endswith("\n"):
                orig = orig[:-1]
            assert np.array_equal(flat, orig)
        # line_no is dense 0..k
        assert list(g["line_no"]) == list(range(len(g)))


@settings(max_examples=100, deadline=None)
@given(doc_text)
def test_encode_is_codepoints(t):
    enc = encode_text(t)
    assert len(enc) == len(t)
    assert "".join(chr(c) for c in enc) == t


def test_malformed_tokens_do_not_crash():
    """Invalid codepoints (negative / surrogate / out of range) decode to
    U+FFFD in text while line token slices keep the ORIGINAL values."""
    bad = np.array([72, 105, -5, 0xD800, 0x7FFFFFFF, 10, 65], dtype=np.int32)
    pdf = split_docs_batch(
        np.array(["d1"], dtype=object), np.array(["s"], dtype=object), [bad]
    )
    assert list(pdf["line_no"]) == [0, 1]
    assert pdf["text"].iloc[0] == "Hi���"
    assert list(pdf["line_tokens"].iloc[0]) == [72, 105, -5, 0xD800, 0x7FFFFFFF]


def test_doc_line_stats_match_split(spark):
    """The JVM (lines, chars) of each doc equal the row count and summed
    text length of ``split_docs_batch``'s lines, on random token arrays
    and the edges: empty doc, trailing newline, "\\n\\n", and negative,
    surrogate and astral tokens."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    pool = np.array([NEWLINE_TOKEN] * 6 + [65, 97, 32, 0xE9, 0x1F600, 0x10FFFF, 0xD800, 0xDFFF, -1, -70000, 0x7FFFFFFF])
    docs = [[], [NEWLINE_TOKEN], [NEWLINE_TOKEN, NEWLINE_TOKEN], [65, NEWLINE_TOKEN], [NEWLINE_TOKEN, 65], [-5, 0xD800, 0x1F600]]
    docs += [rng.choice(pool, size=rng.integers(0, 30)).tolist() for _ in range(1000)]
    ids = np.array([f"d{i}" for i in range(len(docs))], dtype=object)
    lines = split_docs_batch(ids, np.array(["s"] * len(docs), dtype=object), [np.array(d, dtype=np.int32) for d in docs])
    lines["chars"] = lines["text"].str.len()
    per_doc = lines.groupby("doc_id").agg(n=("chars", "size"), chars=("chars", "sum"))
    want = {i: (int(per_doc.loc[i, "n"]), int(per_doc.loc[i, "chars"])) if i in per_doc.index else (0, 0) for i in ids}

    n_lines, n_chars = doc_line_stats(F.col("tokens"))
    df = spark.createDataFrame(list(zip(ids.tolist(), docs)), "doc_id string, tokens array<int>")
    got = {r["doc_id"]: (r["n"], r["c"]) for r in df.select("doc_id", n_lines.alias("n"), n_chars.alias("c")).collect()}
    assert got == want
