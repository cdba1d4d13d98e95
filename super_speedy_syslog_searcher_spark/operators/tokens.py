"""Token-domain operators over the input_hint-shaped corpus
``(doc_id:string, tokens:array<int32>, n_tok:int32, source:string)`` —
the operations a training-data pipeline runs between curation and the
trainer: sequence packing and vocabulary statistics.

Scale shapes (100 TB review):

* ``pack_sequences`` — GPT-style stream packing: concatenate each
  source's documents in deterministic (doc_id) order and cut the stream
  every ``max_len`` tokens. The cumulative token offset is computed with
  a TWO-PHASE prefix sum (range-partition → per-partition window +
  broadcast per-(partition, source) offsets — the same idiom as
  merge.with_global_rank): a plain ``Window.partitionBy(source)`` would
  funnel each source into ONE task, which serializes the whole job when
  sources are few and huge (the exact shape of a crawl corpus). The
  collected offset table is bounded by #partitions + #source boundaries,
  never row-scale. Everything after the cumsum is a map-side explode —
  no further shuffle.
* ``assemble_sequences`` — one shuffle keyed on (source, seq_id) to
  gather each sequence's chunks; sequences are ≤ max_len tokens by
  construction, so groups are bounded regardless of document length
  (a 1-GB document contributes max_len-token slices to many groups, not
  one giant group).
* ``vocab_stats`` — explode + two-level aggregate; Spark's partial
  (map-side) aggregation absorbs hot tokens before the exchange, so a
  token appearing in every row (the "the" problem) costs one row per
  task, not one row per occurrence.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _with_stream_start(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Attach ``start`` = cumulative n_tok of all preceding docs within the
    same source (order: doc_id asc) — the doc's global offset in its
    source's concatenated token stream.

    Two-phase prefix sum: range-partition on (source, doc_id) so equal
    sources are contiguous but SPLIT across partitions, window-cumsum
    within (partition, source), then add broadcast per-(partition, source)
    base offsets computed from per-partition totals (bounded rows: one per
    (partition, source-run), collected and cumulated on the driver).

    The partition id is frozen with ``localCheckpoint``: the offsets job
    and the downstream cumsum job would otherwise each re-execute the
    range exchange, and AQE may coalesce its output DIFFERENTLY per job
    (coalescing decisions depend on the consuming query), silently
    shifting ``spark_partition_id`` between the two passes — measured as
    off-by-one-partition base offsets on an 8-partition corpus. The
    checkpoint costs one materialization pass (the packing rewrites all
    data anyway) and also pins the assignment for resume.
    """
    n = num_partitions or int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parted = (
        docs.repartitionByRange(n, F.col("source"), F.col("doc_id"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    # bounded: one row per (partition, source) pair actually present
    totals = (
        parted.groupBy("_pid", "source")
        .agg(F.sum("n_tok").alias("t"))
        .orderBy("source", "_pid")
        .collect()
    )
    offsets, acc, cur_src = [], 0, None
    for r in totals:
        if r["source"] != cur_src:
            cur_src, acc = r["source"], 0
        offsets.append((r["_pid"], r["source"], acc))
        acc += r["t"]
    spark = docs.sparkSession
    off_df = spark.createDataFrame(offsets, "_pid int, source string, _base long")
    w = (
        Window.partitionBy("_pid", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        parted.withColumn("_local", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
        .join(F.broadcast(off_df), ["_pid", "source"])
        .withColumn("start", (F.col("_base") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_base")
    )


def pack_sequences(
    docs: DataFrame, max_len: int = 512, num_partitions: int | None = None
) -> DataFrame:
    """Pack each source's documents into fixed-length training sequences
    (concat-and-chunk packing): sequence ``s`` of a source holds the
    stream positions [s·max_len, (s+1)·max_len). Returns the chunk map —
    one row per (document, sequence) overlap:

    ``(source, seq_id, doc_id, tok_off, seq_off, chunk_len, chunk_sum)``

    where ``tok_off``/``seq_off`` are 0-based offsets into the document's
    token array / the packed sequence, and ``chunk_sum`` is the sum of the
    chunk's token values (ties the map to the actual token CONTENT, so an
    oracle catches off-by-one slicing). Documents never reorder within a
    source; a document spanning a boundary yields one row per sequence it
    touches. The map is the packing: a consumer gathers slices by
    (seq_id, seq_off) — or use :func:`assemble_sequences`.
    """
    started = _with_stream_start(docs.filter(F.col("n_tok") > 0), num_partitions)
    first_seq = F.floor(F.col("start") / max_len)
    last_seq = F.floor((F.col("start") + F.col("n_tok") - 1) / max_len)
    chunks = started.select(
        "source",
        "doc_id",
        "tokens",
        "n_tok",
        "start",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    g0 = F.greatest(F.col("start"), F.col("seq_id") * max_len)  # chunk start, global
    g1 = F.least(F.col("start") + F.col("n_tok"), (F.col("seq_id") + 1) * max_len)
    tok_off = (g0 - F.col("start")).cast("long")
    chunk = F.slice("tokens", (tok_off + 1).cast("int"), (g1 - g0).cast("int"))
    return chunks.select(
        "source",
        F.col("seq_id").cast("long"),
        "doc_id",
        tok_off.alias("tok_off"),
        (g0 - F.col("seq_id") * max_len).cast("long").alias("seq_off"),
        (g1 - g0).cast("long").alias("chunk_len"),
        F.aggregate(chunk, F.lit(0).cast("long"), lambda a, t: a + t.cast("long")).alias(
            "chunk_sum"
        ),
    )


def assemble_sequences(
    docs: DataFrame, max_len: int = 512, mask_spans: DataFrame | None = None
) -> DataFrame:
    """Materialize the packed sequences: ``(source, seq_id, tokens, n_tok,
    n_docs, doc_starts)`` with tokens = the max_len-token training row
    (final sequence of each source may be shorter). One shuffle on
    (source, seq_id).

    ``doc_starts`` lists the in-sequence offsets where a NEW document
    begins (offset of each piece whose chunk is its document's first
    token) — exactly the reset points a block-diagonal attention mask /
    position-id reset needs so packed neighbors don't attend across
    document boundaries. A sequence that begins mid-document has no 0
    entry (the carry-in is a continuation, not a start).

    ``mask_spans`` (optional): a ``(doc_id, beg, end)`` table of
    half-open token-offset intervals to EXCLUDE from the training loss
    (contaminated spans from ``curation.decontaminate_spans`` mapped to
    token offsets, scrubbed-PII spans, FIM sentinels...). The output
    then carries ``loss_mask`` — an int array aligned 1:1 with
    ``tokens`` (1 = train, 0 = masked) — and ``n_masked``: the standard
    packed-trainer contract where dropping the span would change every
    neighbor's position but masking keeps the stream layout stable.
    Spans are grouped per doc (bounded by spans-per-doc, a handful in
    practice) and joined onto the doc row BEFORE chunking, so masking
    adds one id-keyed broadcast-or-SMJ join and pure array algebra — the
    packing's shuffle structure is unchanged; overlapping spans union.
    """
    started = _with_stream_start(docs.filter(F.col("n_tok") > 0))
    if mask_spans is not None:
        sp = mask_spans.groupBy("doc_id").agg(
            F.collect_list(
                F.struct(F.col("beg").cast("long").alias("beg"), F.col("end").cast("long").alias("end"))
            ).alias("_spans")
        )
        started = started.join(sp, "doc_id", "left")
    first_seq = F.floor(F.col("start") / max_len)
    last_seq = F.floor((F.col("start") + F.col("n_tok") - 1) / max_len)
    chunks = started.select(
        "source",
        "tokens",
        "n_tok",
        "start",
        *(["_spans"] if mask_spans is not None else []),
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    g0 = F.greatest(F.col("start"), F.col("seq_id") * max_len)
    g1 = F.least(F.col("start") + F.col("n_tok"), (F.col("seq_id") + 1) * max_len)
    fields = [
        (g0 - F.col("seq_id") * max_len).cast("int").alias("seq_off"),
        F.slice(
            "tokens", (g0 - F.col("start") + 1).cast("int"), (g1 - g0).cast("int")
        ).alias("part"),
        (g0 == F.col("start")).alias("is_start"),
    ]
    if mask_spans is not None:
        # doc-coordinate positions of this chunk -> 0 where any span covers
        fields.append(
            F.transform(
                F.sequence(g0 - F.col("start"), g1 - F.col("start") - 1),
                lambda pos: F.when(
                    F.exists(
                        F.coalesce(
                            F.col("_spans"),
                            F.array().cast("array<struct<beg:bigint,end:bigint>>"),
                        ),
                        lambda sx: (pos >= sx["beg"]) & (pos < sx["end"]),
                    ),
                    F.lit(0),
                ).otherwise(F.lit(1)),
            ).alias("mask")
        )
    piece = F.struct(*fields)
    out_cols = [
        "source",
        "seq_id",
        F.flatten(F.transform("_ps", lambda s: s["part"])).alias("tokens"),
        "n_docs",
        F.transform(
            F.filter("_ps", lambda s: s["is_start"]), lambda s: s["seq_off"]
        ).alias("doc_starts"),
    ]
    if mask_spans is not None:
        out_cols.append(
            F.flatten(F.transform("_ps", lambda s: s["mask"])).alias("loss_mask")
        )
    out = (
        chunks.select("source", "seq_id", piece.alias("p"))
        .groupBy("source", "seq_id")
        .agg(
            F.array_sort(F.collect_list("p")).alias("_ps"),
            F.count("*").alias("n_docs"),
        )
        .select(*out_cols)
        .withColumn("n_tok", F.size("tokens"))
    )
    if mask_spans is not None:
        out = out.withColumn(
            "n_masked", F.size(F.filter("loss_mask", lambda m: m == 0))
        )
    return out


def vocab_stats(docs: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Corpus vocabulary statistics: per token value, total occurrences
    and document frequency. Partial aggregation absorbs hot tokens
    map-side; output is |vocab| rows."""
    tok = docs.select("doc_id", F.explode(tokens_col).alias("token"))
    return tok.groupBy("token").agg(
        F.count("*").alias("n_occ"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def bpe_pair_stats(docs: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Adjacent-token-pair frequencies across the corpus — the counting
    inner loop of BPE tokenizer training (Sennrich et al. 2016: each
    merge step promotes the most frequent pair). Returns one row per
    distinct pair: ``(left, right, n_pairs, n_docs)``.

    Pair construction is pure JVM column algebra: the token array is
    zipped with its own 1-shifted slice (the same single-split zip trick
    as dedup.word_ngrams_col — no per-element re-evaluation), so the
    only Python anywhere is none. The groupBy is keyed on the bounded
    pair vocabulary (≤ |vocab|², in practice far smaller) and partial
    aggregation collapses hot pairs map-side before the exchange — the
    10^12-row corpus contributes one row per distinct pair per task.
    """
    exploded = _adjacent_pairs(docs, tokens_col)
    return exploded.groupBy(
        F.col("p.l").cast("bigint").alias("left"),
        F.col("p.r").cast("bigint").alias("right"),
    ).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def _adjacent_pairs(
    docs: DataFrame, tokens_col: str, carry_cols: list[str] | None = None
) -> DataFrame:
    """(doc_id, p struct<l,r>) — one row per adjacent token pair; the
    zip-with-shifted-slice build keeps everything in codegen."""
    t = F.col(tokens_col)
    shifted = _shifted(t, 1)
    pairs = F.zip_with(
        t, shifted, lambda a, b: F.when(b.isNotNull(), F.struct(a.alias("l"), b.alias("r")))
    )
    return docs.select(
        "doc_id",
        *(carry_cols or []),
        F.explode(F.filter(pairs, lambda x: x.isNotNull())).alias("p"),
    )


def bigram_logprob(
    docs: DataFrame,
    n_buckets: int = 65536,
    tokens_col: str = "tokens",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Hashed bigram-LM quality score (the KenLM-perplexity filter of
    CCNet/fastText-era pipelines, hash-LM flavored): per document, the
    mean conditional log-likelihood of each adjacent token pair under a
    corpus bigram model with add-one smoothing over hashed feature
    buckets, plus the perplexity form ``exp(-mean)``. Repetitive /
    in-domain docs score high (low ppl); out-of-distribution token
    streams score low.

    Hashing bigrams (and unigram contexts) into ``n_buckets`` fixed
    buckets is what makes this a 100-TB operator: both count tables are
    bounded, broadcast, and the corpus pair stream map-joins them with
    no shuffle (the same design as ``curation.dsir_weights``). The only
    wide exchanges are on the bounded bucket ids and on ``doc_id`` for
    the per-doc mean. Docs with fewer than 2 tokens produce no row.
    ``carry_cols`` ride through unchanged (doc-functional columns such
    as ``source`` — free to carry through the doc_id groupBy).
    """
    from .curation import hash_bucket

    carry = list(carry_cols)
    pairs = _adjacent_pairs(docs, tokens_col, carry_cols=carry).select(
        "doc_id",
        *carry,
        hash_bucket(F.concat_ws(",", F.col("p.l"), F.col("p.r")), n_buckets).alias("pb"),
        hash_bucket(F.col("p.l"), n_buckets).alias("ub"),
    )
    pcnt = pairs.groupBy("pb").agg(F.count("*").alias("c_p"))
    ucnt = pairs.groupBy("ub").agg(F.count("*").alias("c_u"))
    lp = F.log((F.col("c_p") + 1) / (F.col("c_u") + n_buckets))
    scored = (
        pairs.join(F.broadcast(pcnt), "pb")
        .join(F.broadcast(ucnt), "ub")
        .groupBy("doc_id", *carry)
        .agg(F.count("*").cast("long").alias("n_bigrams"), F.avg(lp).alias("_m"))
    )
    return scored.select(
        "doc_id",
        *carry,
        "n_bigrams",
        F.round("_m", 4).alias("mean_logprob"),
        F.round(F.exp(-F.col("_m")), 4).alias("ppl"),
    )


def _shifted(t, by: int):
    """tokens[by:] as a codegen slice — the shared shift for the
    pair/trigram windows (one definition so the count streams and probe
    streams can never drift off each other's gram boundaries)."""
    return F.slice(t, by + 1, F.greatest(F.size(t) - by, F.lit(0)))


def _adjacent_trigrams(
    docs: DataFrame, tokens_col: str, carry_cols: list[str] | None = None
) -> DataFrame:
    """(doc_id, t struct<l,m,r>) — one row per adjacent token triple;
    two zip-with-shifted-slice passes, all in codegen (the trigram face
    of :func:`_adjacent_pairs`)."""
    t = F.col(tokens_col)
    s1 = _shifted(t, 1)
    s2 = _shifted(t, 2)
    lm = F.zip_with(t, s1, lambda a, b: F.struct(a.alias("l"), b.alias("m")))
    tri = F.zip_with(
        lm,
        s2,
        lambda p, c: F.when(
            c.isNotNull(),
            F.struct(p["l"].alias("l"), p["m"].alias("m"), c.alias("r")),
        ),
    )
    return docs.select(
        "doc_id",
        *(carry_cols or []),
        F.explode(F.filter(tri, lambda x: x.isNotNull())).alias("t"),
    )


SB_ALPHA = 0.4  # Brants et al. 2007 §4: the fixed backoff penalty


def stupid_backoff_logprob(
    docs: DataFrame,
    n_buckets: int = 65536,
    min_count: int = 2,
    alpha: float = SB_ALPHA,
    tokens_col: str = "tokens",
    carry_cols: tuple[str, ...] = (),
    fast_hash: bool = False,
) -> DataFrame:
    """Trigram Stupid Backoff LM score per document (Brants et al. 2007,
    "Large Language Models in Machine Translation" — THE canonical
    web-scale distributed LM: no normalized probabilities, no held-out
    smoothing fit, just relative frequencies and a fixed 0.4 penalty per
    backoff level, designed exactly so the count tables shard/serve at
    trillions of tokens):

        S(r | l, m) = c(l,m,r) / c(l,m)            if trigram retained
                    = α · c(m,r) / c(m)            elif bigram retained
                    = α² · c(r) / N                otherwise

    Hash-LM flavored like :func:`bigram_logprob`: n-grams hash into
    ``n_buckets`` buckets so every count table is bounded and broadcast.
    The trigram and bigram tables are PRUNED at ``min_count`` (Brants
    §3's count-threshold pruning) — that is what makes backoff actually
    fire when the corpus scores itself (every observed trigram trivially
    has count ≥ 1; rare ones are the unreliable mass pruning discards).
    Denominators are raw (unpruned) context counts; hash collisions can
    push an individual ratio above 1, the standard hashed-count-table
    artifact (documented on `bigram_logprob` too).

    One broadcast-joined map pass over the trigram stream, then one
    groupBy(doc_id) — no corpus-scale shuffle on n-gram keys. Output per
    doc (needs ≥ 3 tokens): ``n_trigrams``, ``sb_mean_logprob`` (mean
    ln S), ``sb_ppl`` = exp(−mean), and ``sb_backoff_frac`` = fraction
    of trigram occurrences that backed off below the trigram level — a
    quality signal in its own right (high = the doc's token transitions
    are rare corpus-wide).

    Scan shape: ALL THREE count tables (and the total-token scalar) come
    from ONE corpus scan — uni/bi/trigram streams are tagged into a
    single explode (the ``repetition_stats`` pattern) and one
    (kind, bucket) aggregate, collected driver-side (bounded:
    ≤ 3·n_buckets rows) and re-emitted as literal broadcast tables.
    Separate per-table aggregates would each re-scan the corpus inside
    the broadcast exchanges — 4 extra full scans at 100 TB. The probe
    trigram stream is the only other scan: 2 total.

    ``fast_hash=True`` swaps the md5 bucket hash for JVM ``xxhash64``
    (the minhash gram-hash codec): same plan, same semantics, much
    cheaper hashing (measured, BENCH.md) — but the bucket assignment
    then has no DuckDB twin, so the driver row keeps md5. Production
    dial.
    """
    from .curation import hash_bucket as _md5_bucket

    if fast_hash:
        def hash_bucket(col, n=100):  # F.xxhash64 — JVM, codegen, no UDF
            return F.pmod(F.xxhash64(col.cast("string")), F.lit(n)).cast("long")
    else:
        hash_bucket = _md5_bucket

    carry = list(carry_cols)
    tris = _adjacent_trigrams(docs, tokens_col, carry_cols=carry).select(
        "doc_id",
        *carry,
        hash_bucket(
            F.concat_ws(",", F.col("t.l"), F.col("t.m"), F.col("t.r")), n_buckets
        ).alias("tb"),
        hash_bucket(F.concat_ws(",", F.col("t.l"), F.col("t.m")), n_buckets).alias("cb"),
        hash_bucket(F.concat_ws(",", F.col("t.m"), F.col("t.r")), n_buckets).alias("bb"),
        hash_bucket(F.col("t.m"), n_buckets).alias("mb"),
        hash_bucket(F.col("t.r"), n_buckets).alias("rb"),
    )
    # ONE tagged n-gram stream → one aggregate for every count table.
    # Bigram/unigram counts use the FULL pair/token streams (a
    # trigram-stream-derived bigram count would miss each doc's last
    # pair / last two tokens), which the per-order slices preserve.
    t = F.col(tokens_col)
    s1 = _shifted(t, 1)
    s2 = _shifted(t, 2)
    k1 = F.transform(t, lambda a: F.struct(F.lit(1).alias("kind"), a.cast("string").alias("key")))
    k2 = F.zip_with(
        t, s1,
        lambda a, b: F.when(
            b.isNotNull(),
            F.struct(F.lit(2).alias("kind"), F.concat_ws(",", a, b).alias("key")),
        ),
    )
    lm = F.zip_with(t, s1, lambda a, b: F.struct(a.alias("l"), b.alias("m")))
    k3 = F.zip_with(
        lm, s2,
        lambda p, c: F.when(
            c.isNotNull(),
            F.struct(
                F.lit(3).alias("kind"),
                F.concat_ws(",", p["l"], p["m"], c).alias("key"),
            ),
        ),
    )
    tagged = docs.select(
        F.explode(
            F.filter(F.concat(k1, k2, k3), lambda x: x.isNotNull())
        ).alias("g")
    ).select(F.col("g.kind").alias("kind"), hash_bucket(F.col("g.key"), n_buckets).alias("b"))
    rows = tagged.groupBy("kind", "b").agg(F.count("*").alias("c")).collect()
    spark = docs.sparkSession
    n_total = sum(r["c"] for r in rows if r["kind"] == 1)

    def table(kind: int, cols: str, keep=None):
        data = [(r["b"], r["c"]) for r in rows if r["kind"] == kind and (keep is None or keep(r["c"]))]
        return spark.createDataFrame(data, cols) if data else spark.createDataFrame([], cols)

    tri_kept = table(3, "tb long, c_t long", keep=lambda c: c >= min_count)
    big_all = [(r["b"], r["c"]) for r in rows if r["kind"] == 2]
    ctx_tbl = spark.createDataFrame(big_all or [], "cb long, c_ctx long")
    big_kept = spark.createDataFrame(
        [(b, c) for b, c in big_all if c >= min_count] or [], "bb long, c_bk long"
    )
    uni_all = [(r["b"], r["c"]) for r in rows if r["kind"] == 1]
    uni_m = spark.createDataFrame(uni_all or [], "mb long, c_m long")
    uni_r = spark.createDataFrame(uni_all or [], "rb long, c_r long")
    joined = (
        tris.join(F.broadcast(tri_kept), "tb", "left")
        .join(F.broadcast(ctx_tbl), "cb")
        .join(F.broadcast(big_kept), "bb", "left")
        .join(F.broadcast(uni_m), "mb")
        .join(F.broadcast(uni_r), "rb")
    )
    score = (
        F.when(F.col("c_t").isNotNull(), F.log(F.col("c_t") / F.col("c_ctx")))
        .when(
            F.col("c_bk").isNotNull(),
            F.log(F.lit(float(alpha)) * F.col("c_bk") / F.col("c_m")),
        )
        .otherwise(F.log(F.lit(float(alpha) ** 2) * F.col("c_r") / F.lit(float(n_total))))
    )
    backed_off = F.when(F.col("c_t").isNull(), F.lit(1.0)).otherwise(F.lit(0.0))
    scored = joined.groupBy("doc_id", *carry).agg(
        F.count("*").cast("long").alias("n_trigrams"),
        F.avg(score).alias("_m"),
        F.avg(backed_off).alias("_bf"),
    )
    return scored.select(
        "doc_id",
        *carry,
        "n_trigrams",
        F.round("_m", 4).alias("sb_mean_logprob"),
        F.round(F.exp(-F.col("_m")), 4).alias("sb_ppl"),
        F.round("_bf", 4).alias("sb_backoff_frac"),
    )


def _merge_rewrite_udf(left: int, right: int, new_id: int):
    """Greedy left-to-right single-merge corpus rewrite (the inner
    rewrite step shared by ``train_bpe`` and ``train_wordpiece``): every
    non-overlapping (left, right) adjacency becomes ``new_id``. One
    vectorized numpy pass over the flattened Arrow batch — match
    positions from one comparison, the only overlap case (left == right
    runs like ``aaa``) resolved by an O(matches) walk, doc boundaries
    masked so pairs never span documents."""
    from pyspark.sql import types as T

    from .dedup import _flatten_segments

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _apply(tokens: pd.Series) -> pd.Series:
        flat, offsets, lens = _flatten_segments(tokens)
        n_docs = len(tokens)
        if flat.size == 0:
            return pd.Series([np.empty(0, dtype=np.int32)] * n_docs)
        flat = flat.astype(np.int64, copy=True)
        ends = offsets + lens  # doc end positions (exclusive)
        # candidate positions: flat[i]==left and flat[i+1]==right,
        # where i+1 is inside the same doc (mask the last slot of
        # every doc so pairs never span documents)
        cand = np.zeros(flat.size, dtype=bool)
        if flat.size >= 2:
            cand[:-1] = (flat[:-1] == left) & (flat[1:] == right)
        cand[ends[lens > 0] - 1] = False  # nonempty docs' final slots
        matches = np.flatnonzero(cand)
        if matches.size:
            # greedy left-to-right: drop a match that starts on the
            # RIGHT slot of the previous kept match (only possible
            # when left == right, e.g. 'aaa'); O(matches) walk
            if left == right:
                kept = []
                last = -2
                for m in matches.tolist():
                    if m == last + 1:
                        continue
                    kept.append(m)
                    last = m
                matches = np.asarray(kept, dtype=np.int64)
            flat[matches] = new_id
            drop = np.zeros(flat.size, dtype=bool)
            drop[matches + 1] = True
            # per-doc new lengths: subtract merges inside each doc.
            # reduceat runs over NONEMPTY docs only (an empty doc's
            # offset may equal flat.size, which reduceat rejects, and
            # repeated offsets would read the next segment); int64
            # cast because add.reduceat over bool saturates at True.
            merged_per_doc = np.zeros(n_docs, dtype=np.int64)
            ne = lens > 0
            if ne.any():
                merged_per_doc[ne] = np.add.reduceat(
                    drop.astype(np.int64), offsets[ne]
                )
            flat = flat[~drop]
            lens2 = lens - merged_per_doc
        else:
            lens2 = lens
        out_off = np.concatenate(([0], np.cumsum(lens2)[:-1])) if n_docs else np.empty(0, dtype=np.int64)
        flat32 = flat.astype(np.int32)
        return pd.Series(
            [flat32[out_off[i]: out_off[i] + lens2[i]] for i in range(n_docs)]
        )

    return _apply


def train_bpe(
    docs: DataFrame,
    num_merges: int = 50,
    min_freq: int = 2,
    tokens_col: str = "tokens",
) -> tuple[list[tuple[int, int, int, int, int]], DataFrame]:
    """Distributed BPE tokenizer training (Sennrich et al. 2016) — the
    iterative loop ``bpe_pair_stats`` is the inner counting step of:
    each round counts adjacent pairs over the WHOLE corpus, promotes the
    most frequent pair to a fresh token id, rewrites the corpus with the
    merge applied (greedy left-to-right, the textbook semantics), and
    repeats. Returns ``(merges, merged_docs)`` where ``merges`` is
    ``[(merge_no, left, right, new_id, n_pairs), ...]`` and
    ``merged_docs`` has ``tokens_col`` rewritten under all merges.

    Determinism: ties on frequency break to the smallest (left, right)
    pair, so the merge table is a pure function of the corpus.

    Scale shape (100 TB): each round is ONE pair-count aggregate (pure
    JVM zip-with pair build, map-side partial agg over the bounded pair
    vocabulary — see ``bpe_pair_stats``), a 1-row ``limit(1)`` collect
    of the winner, and a map-only vectorized rewrite. The rewrite UDF
    flattens the whole Arrow batch once and resolves the merge over the
    flat array: match positions come from one numpy comparison, overlap
    resolution (``aaa`` under merge ``(a,a)``) walks only the MATCH
    positions — O(matches), never O(tokens) Python — and doc boundaries
    mask cross-doc false pairs. ``localCheckpoint`` per round truncates
    lineage (num_merges rounds would otherwise stack num_merges UDF
    plans, the same discipline as ``dedup.connected_components``).
    Driver state is one (left, right, new_id) triple per round —
    bounded by num_merges, never corpus-scale.
    """
    make_merge_udf = _merge_rewrite_udf

    cur = docs
    next_id_row = docs.agg(F.max(F.array_max(F.col(tokens_col)))).collect()[0][0]
    next_id = int(next_id_row) + 1 if next_id_row is not None else 0
    merges: list[tuple[int, int, int, int, int]] = []
    for round_no in range(num_merges):
        top = (
            bpe_pair_stats(cur, tokens_col=tokens_col)
            .filter(F.col("n_pairs") >= min_freq)
            .orderBy(F.desc("n_pairs"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, n_pairs = int(top[0]["left"]), int(top[0]["right"]), int(top[0]["n_pairs"])
        merges.append((round_no, left, right, next_id, n_pairs))
        cur = cur.withColumn(tokens_col, make_merge_udf(left, right, next_id)(F.col(tokens_col)))
        cur = cur.localCheckpoint(eager=True)
        next_id += 1
    return merges, cur


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[int, int, int, int, int]] | list[tuple[int, int, int]],
    tokens_col: str = "tokens",
) -> DataFrame:
    """Encode a corpus with a learned BPE merge table — the inference
    half of ``train_bpe``. ``merges`` is the training output (rows
    ``(merge_no, left, right, new_id, n_pairs)``) or bare
    ``(left, right, new_id)`` triples; merges apply in table order
    (training order = priority order), each greedy left-to-right.

    Scale shape: ONE map-only Python stage for the whole table — the
    UDF flattens each Arrow batch once and applies every merge as a
    numpy pass over the flat array (match positions from one vector
    comparison, O(matches) overlap walk, boolean-mask compaction);
    chaining ``len(merges)`` single-merge stages would pay the
    Arrow (de)serialization per merge instead of once. The merge table
    rides into executors via the closure — bounded by vocabulary
    growth, never corpus-scale. Invariant (tested):
    ``apply_bpe(corpus, train_bpe(corpus)[0])`` equals training's own
    rewritten corpus.
    """
    from pyspark.sql import types as T

    from .dedup import _flatten_segments

    triples = [
        (int(m[1]), int(m[2]), int(m[3])) if len(m) >= 5 else (int(m[0]), int(m[1]), int(m[2]))
        for m in merges
    ]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _encode(tokens: pd.Series) -> pd.Series:
        flat, offsets, lens = _flatten_segments(tokens)
        n_docs = len(tokens)
        if flat.size == 0:
            return pd.Series([np.empty(0, dtype=np.int32)] * n_docs)
        flat = flat.astype(np.int64, copy=True)
        lens = lens.astype(np.int64, copy=True)
        for left, right, new_id in triples:
            offsets = np.concatenate(([0], np.cumsum(lens)[:-1])) if n_docs else np.empty(0, dtype=np.int64)
            ends = offsets + lens
            cand = np.zeros(flat.size, dtype=bool)
            if flat.size >= 2:
                cand[:-1] = (flat[:-1] == left) & (flat[1:] == right)
            cand[ends[lens > 0] - 1] = False
            matches = np.flatnonzero(cand)
            if matches.size == 0:
                continue
            if left == right:
                kept, last = [], -2
                for m in matches.tolist():
                    if m == last + 1:
                        continue
                    kept.append(m)
                    last = m
                matches = np.asarray(kept, dtype=np.int64)
            flat[matches] = new_id
            drop = np.zeros(flat.size, dtype=bool)
            drop[matches + 1] = True
            merged_per_doc = np.zeros(n_docs, dtype=np.int64)
            ne = lens > 0
            if ne.any():
                merged_per_doc[ne] = np.add.reduceat(drop.astype(np.int64), offsets[ne])
            flat = flat[~drop]
            lens = lens - merged_per_doc
        out_off = np.concatenate(([0], np.cumsum(lens)[:-1])) if n_docs else np.empty(0, dtype=np.int64)
        flat32 = flat.astype(np.int32)
        return pd.Series([flat32[out_off[i]: out_off[i] + lens[i]] for i in range(n_docs)])

    return docs.withColumn(tokens_col, _encode(F.col(tokens_col)))


def train_wordpiece(
    docs: DataFrame,
    num_merges: int = 50,
    min_freq: int = 2,
    tokens_col: str = "tokens",
    top_k: int = 64,
) -> tuple[list[tuple[int, int, int, int, int]], DataFrame]:
    """WordPiece-objective merge training (Schuster & Nakajima 2012; the
    likelihood scoring of the public WordPiece trainers): per round the
    winning adjacent pair maximizes
    ``score = n_pair / (n_left * n_right)`` over CURRENT corpus counts,
    where BPE maximizes the raw ``n_pair`` — WordPiece promotes pairs
    whose joint frequency is high RELATIVE to their parts (the unigram-LM
    likelihood gain of the merge), so a rare-but-cohesive pair beats a
    frequent pair of independently-frequent units. Ties break to the
    smallest (left, right); the rewrite step and the return shape
    ``(merges, merged_docs)`` are exactly ``train_bpe``'s (``n_pairs``
    in the merge row stays the winner's RAW pair count, so the two
    trainers' tables compare column-for-column).

    Winner selection is EXACT despite the fractional score: the
    distributed side orders by the float64 score only to shortlist the
    ``top_k`` candidates (one partial-top-k exchange of ≤ top_k rows),
    and the driver re-resolves the winner among them in exact integer
    cross-multiplication (``Fraction``), immune to float rounding. If
    all ``top_k`` collected rows sit within 1e-9 relative of the best
    float score AND the shortlist is full — the only configuration in
    which the true winner could have been shortlisted out — the round
    raises rather than guess (raise ``top_k``). In practice distinct
    WordPiece scores differ at ~1e-16 relative only adversarially.

    Scale shape (100 TB): per round ONE pair-count aggregate (map-side
    partial agg over the bounded pair vocabulary) + ONE unigram-count
    aggregate (bounded by |vocab|) joined pair→unigram with two
    broadcast hash joins (the unigram table is vocabulary-sized), a
    ≤ top_k-row collect, and the same map-only vectorized rewrite as
    BPE. Driver state stays bounded by num_merges.
    """
    from fractions import Fraction

    cur = docs
    next_id_row = docs.agg(F.max(F.array_max(F.col(tokens_col)))).collect()[0][0]
    next_id = int(next_id_row) + 1 if next_id_row is not None else 0
    merges: list[tuple[int, int, int, int, int]] = []
    for round_no in range(num_merges):
        uni = (
            cur.select(F.explode(F.col(tokens_col)).alias("tok"))
            .groupBy(F.col("tok").cast("bigint").alias("tok"))
            .agg(F.count("*").alias("c"))
        )
        scored = (
            bpe_pair_stats(cur, tokens_col=tokens_col)
            .filter(F.col("n_pairs") >= min_freq)
            .join(F.broadcast(uni.select(F.col("tok").alias("left"), F.col("c").alias("n_left"))), "left")
            .join(F.broadcast(uni.select(F.col("tok").alias("right"), F.col("c").alias("n_right"))), "right")
            .withColumn(
                "score",
                F.col("n_pairs").cast("double")
                / (F.col("n_left").cast("double") * F.col("n_right").cast("double")),
            )
        )
        top = (
            scored.orderBy(F.desc("score"), F.asc("left"), F.asc("right"))
            .limit(top_k)
            .collect()
        )
        if not top:
            break
        if len(top) == top_k and top[-1]["score"] >= top[0]["score"] * (1.0 - 1e-9):
            raise ValueError(
                f"train_wordpiece: round {round_no} shortlist saturated with "
                f"near-tied scores; raise top_k (={top_k}) for exact resolution"
            )
        best = min(
            top,
            key=lambda r: (
                Fraction(-int(r["n_pairs"]), int(r["n_left"]) * int(r["n_right"])),
                int(r["left"]),
                int(r["right"]),
            ),
        )
        left, right, n_pairs = int(best["left"]), int(best["right"]), int(best["n_pairs"])
        merges.append((round_no, left, right, next_id, n_pairs))
        cur = cur.withColumn(
            tokens_col, _merge_rewrite_udf(left, right, next_id)(F.col(tokens_col))
        )
        cur = cur.localCheckpoint(eager=True)
        next_id += 1
    return merges, cur


def apply_wordpiece(
    docs: DataFrame,
    merges: list[tuple[int, int, int, int, int]] | list[tuple[int, int, int]],
    tokens_col: str = "tokens",
) -> DataFrame:
    """Maximum-munch (longest-match-first) WordPiece ENCODING over the
    learned piece vocabulary — the classic train/inference asymmetry:
    BPE inference replays merges in training order (``apply_bpe``),
    WordPiece inference greedily emits the LONGEST vocabulary piece
    matching at each position (Schuster & Nakajima 2012; the WordPiece
    tokenizers in public NLP stacks). The encode vocabulary is every
    base id (identity pieces) plus each merge's full base-id expansion;
    when two merges expand to the same base sequence (possible:
    ``(a, bc)`` and ``(ab, c)`` both spell ``abc``) the EARLIEST-trained
    piece wins — deterministic and documented. Ids absent from the
    vocabulary pass through unchanged (the open-vocabulary analogue of
    UNK-less passthrough). ``decode_bpe`` inverts the encoding exactly
    (same expansion table; roundtrip pinned in tests).

    Scale shape: ONE map-only Arrow stage, embarrassingly parallel; the
    piece trie rides the closure (bounded by vocabulary). The in-batch
    walk is O(output_tokens × max_piece_depth) integer dict steps — the
    same order as the emitted sequence, with max depth bounded by the
    merge count, never document length.
    """
    from pyspark.sql import types as T

    from .dedup import _flatten_segments

    triples = [
        (int(m[1]), int(m[2]), int(m[3])) if len(m) >= 5 else (int(m[0]), int(m[1]), int(m[2]))
        for m in merges
    ]
    # base-id expansion of every piece id, in training order
    expansion: dict[int, tuple[int, ...]] = {}

    def _expand(tok: int) -> tuple[int, ...]:
        return expansion.get(tok, (tok,))

    for left, right, new in triples:
        expansion[new] = _expand(left) + _expand(right)
    # trie over base-id sequences; earliest-trained piece wins a spelling
    trie: dict = {}
    seen_spellings: set[tuple[int, ...]] = set()
    for left, right, new in triples:
        seq = expansion[new]
        if seq in seen_spellings:
            continue
        seen_spellings.add(seq)
        node = trie
        for t in seq:
            node = node.setdefault(int(t), {})
        node[-1] = int(new)  # terminal marker (base ids are non-negative)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _encode(tokens: pd.Series) -> pd.Series:
        flat, offsets, lens = _flatten_segments(tokens)
        n_docs = len(tokens)
        if flat.size == 0:
            return pd.Series([np.empty(0, dtype=np.int32)] * n_docs)
        flat_l = flat.astype(np.int64).tolist()
        out_docs = []
        for i in range(n_docs):
            p, end = int(offsets[i]), int(offsets[i] + lens[i])
            out: list[int] = []
            while p < end:
                node = trie.get(flat_l[p])
                best_id, best_len = flat_l[p], 1
                q = p + 1
                while node is not None:
                    t = node.get(-1)
                    if t is not None:
                        best_id, best_len = t, q - p
                    if q >= end:
                        break
                    node = node.get(flat_l[q])
                    q += 1
                out.append(best_id)
                p += best_len
            out_docs.append(np.asarray(out, dtype=np.int32))
        return pd.Series(out_docs)

    return docs.withColumn(tokens_col, _encode(F.col(tokens_col)))


def decode_bpe(
    docs: DataFrame,
    merges: list[tuple[int, int, int, int, int]] | list[tuple[int, int, int]],
    tokens_col: str = "tokens",
) -> DataFrame:
    """Invert a BPE encoding: expand every merged id back to its two
    children until only base ids remain — BPE is lossless, so
    ``decode_bpe(apply_bpe(corpus, merges), merges)`` equals the
    original corpus EXACTLY (pinned in tests/test_tokens_roundtrip.py).
    This is the detokenization face a serving/inspection pipeline needs
    next to the training-side encoder.

    Scale shape: ONE map-only Arrow stage; the expansion tables (two
    int arrays sized by the merged-vocab range) ride the closure —
    bounded by vocabulary, never corpus. Each numpy pass expands every
    currently-merged position at once (mask → cumsum placement), so the
    pass count is the merge DAG's depth (≤ len(merges)), independent of
    document length. Full expansion is order-independent: each id's
    leaf sequence is unique, so no priority bookkeeping is needed.
    """
    from pyspark.sql import types as T

    from .dedup import _flatten_segments

    triples = [
        (int(m[1]), int(m[2]), int(m[3])) if len(m) >= 5 else (int(m[0]), int(m[1]), int(m[2]))
        for m in merges
    ]
    if triples:
        max_id = max(new for _l, _r, new in triples)
        left_tab = np.full(max_id + 1, -1, dtype=np.int64)
        right_tab = np.full(max_id + 1, -1, dtype=np.int64)
        for left, right, new in triples:
            left_tab[new] = left
            right_tab[new] = right
    else:
        left_tab = right_tab = np.full(1, -1, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _decode(tokens: pd.Series) -> pd.Series:
        flat, offsets, lens = _flatten_segments(tokens)
        n_docs = len(tokens)
        if flat.size == 0:
            return pd.Series([np.empty(0, dtype=np.int32)] * n_docs)
        flat = flat.astype(np.int64, copy=True)
        lens = lens.astype(np.int64, copy=True)
        while True:
            inrange = flat < left_tab.size
            mask = np.zeros(flat.size, dtype=bool)
            mask[inrange] = left_tab[flat[inrange]] >= 0
            if not mask.any():
                break
            counts = 1 + mask.astype(np.int64)
            pos = np.cumsum(counts) - counts
            new = np.empty(int(counts.sum()), dtype=np.int64)
            new[pos] = np.where(mask, left_tab[np.where(mask, flat, 0)], flat)
            new[pos[mask] + 1] = right_tab[flat[mask]]
            offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
            grow = np.zeros(n_docs, dtype=np.int64)
            ne = lens > 0
            if ne.any():
                grow[ne] = np.add.reduceat(mask.astype(np.int64), offsets[ne])
            lens = lens + grow
            flat = new
        out_off = np.concatenate(([0], np.cumsum(lens)[:-1]))
        flat32 = flat.astype(np.int32)
        return pd.Series([flat32[out_off[i] : out_off[i] + lens[i]] for i in range(n_docs)])

    return docs.withColumn(tokens_col, _decode(F.col(tokens_col)))


def _mixture_thresholds(
    docs: DataFrame, targets_ppm: dict[str, int], n_buckets: int
) -> list[tuple[str, int, int, int]]:
    """Per-source ``(source, n_tok_total, ppm, keep_buckets)`` for the
    mixture keep rule, computed in EXACT integer arithmetic.

    With binding source b = argmin over targeted sources of
    n_tok_s / share_s (tie → lowest source name), the max-retention rate
    is rate_s = ppm_s·n_tok_b / (ppm_b·n_tok_s) ≤ 1, and the number of
    kept hash buckets is the count of integers k ≥ 0 with
    k/n_buckets < rate_s, i.e. ceil(ppm_s·n_tok_b·n_buckets /
    (ppm_b·n_tok_s)) — never a float, so Spark, the DuckDB oracle, and a
    resumed job agree on every boundary bucket. The only driver-side
    data is the |sources|-row totals table.
    """
    from fractions import Fraction

    rows = (
        docs.groupBy("source").agg(F.sum("n_tok").cast("long").alias("n_tok_total")).collect()
    )
    per = sorted(
        (r["source"], int(r["n_tok_total"] or 0))
        for r in rows
        if targets_ppm.get(r["source"], 0) > 0
    )
    if not per:
        return []
    _, nb, pb = min(
        ((s, n, targets_ppm[s]) for s, n in per),
        key=lambda x: (Fraction(x[1], x[2]), x[0]),
    )
    out = []
    for s, n in per:
        ppm = targets_ppm[s]
        if nb == 0 or n == 0:
            keep = 0  # a targeted empty source binds T to 0 — keep nothing
        else:
            keep = (ppm * nb * n_buckets + pb * n - 1) // (pb * n)
        out.append((s, n, ppm, keep))
    return out


def sample_to_mixture(
    docs: DataFrame,
    targets_ppm: dict[str, int],
    n_buckets: int = 1_000_000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Mixture sampling end-to-end: deterministically keep
    the subset of docs that tilts the corpus to the target token mixture
    (shares as integer parts-per-million) with maximum retention — the
    step that turns the mixture TABLE into the mixture CORPUS.

    Keep rule: md5-bucket(doc_id) < keep_buckets(source), thresholds
    from :func:`_mixture_thresholds` (exact integers). Map-only after a
    broadcast of the |sources|-row threshold table: the decision never
    shuffles, is independent of partition layout (unlike ``sampleBy``),
    and re-runs / resumed jobs keep byte-identical doc sets.
    """
    from .curation import hash_bucket

    spark = docs.sparkSession
    thr = _mixture_thresholds(docs, targets_ppm, n_buckets)
    if not thr:
        return docs.filter(F.lit(False))
    thr_df = spark.createDataFrame(
        thr, "source string, n_tok_total long, target_ppm long, keep_buckets long"
    ).select("source", "keep_buckets")
    return (
        docs.join(F.broadcast(thr_df), "source")
        .filter(hash_bucket(F.col(id_col), n_buckets) < F.col("keep_buckets"))
        .drop("keep_buckets")
    )


def mixture_sample_stats(
    docs: DataFrame,
    targets_ppm: dict[str, int],
    n_buckets: int = 1_000_000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source audit of :func:`sample_to_mixture`: the exact integer
    threshold plus the ACHIEVED kept doc/token totals — all integers, so
    the oracle check is exact. One bounded aggregate over the kept set;
    sources sampled to zero still get a row (kept counts 0)."""
    from .curation import hash_bucket

    spark = docs.sparkSession
    thr = _mixture_thresholds(docs, targets_ppm, n_buckets)
    thr_df = spark.createDataFrame(
        thr or [("", 0, 0, 0)],
        "source string, n_tok_total long, target_ppm long, keep_buckets long",
    )
    if not thr:
        return thr_df.filter(F.lit(False))
    kept = (
        docs.join(F.broadcast(thr_df.select("source", "keep_buckets")), "source")
        .filter(hash_bucket(F.col(id_col), n_buckets) < F.col("keep_buckets"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs_kept"),
            F.sum("n_tok").cast("long").alias("n_tok_kept"),
        )
    )
    return thr_df.join(kept, "source", "left").select(
        "source",
        "n_tok_total",
        "target_ppm",
        "keep_buckets",
        F.coalesce("n_docs_kept", F.lit(0)).cast("long").alias("n_docs_kept"),
        F.coalesce("n_tok_kept", F.lit(0)).cast("long").alias("n_tok_kept"),
    )


def temperature_targets(
    docs: DataFrame,
    ppm_total: int = 1_000_000,
    alpha: float = 0.5,
    source_col: str = "source",
    ntok_col: str = "n_tok",
) -> DataFrame:
    """Temperature-based mixture targets — the multilingual/multi-domain
    sampling rule (Conneau & Lample 2019; mT5): sample source i with
    probability ∝ share_i^alpha, alpha < 1 upsampling low-resource
    sources. Returns ``(source, n_tok_total, w, target_ppm)`` with
    Σ target_ppm = ppm_total EXACTLY — ready to feed
    :func:`sample_to_mixture` as the targets
    table (targets = {r.source: r.target_ppm}).

    Determinism discipline (the :func:`sample_to_mixture` rule — no
    float touches any compared value): at the default alpha = 0.5 the
    weight is ``w_i = floor(sqrt(n_tok_i))`` — IEEE-754 sqrt is
    correctly rounded, so every engine computes the identical integer —
    and the ppm split is integer largest-remainder apportionment:
    ``base_i = w_i·ppm_total div W``; the deficit
    ``ppm_total − Σ base_i`` (< |sources|) goes to the largest
    ``w_i·ppm_total mod W`` remainders, tie → source asc. Non-default
    alpha uses ``pow`` (floats — cross-engine hash comparison then
    carries the usual libm caveat).

    Scale shape: ONE |sources|-row aggregate over the corpus (map-side
    partials); the rank window and the deficit sum run over |sources|
    rows — domains, not documents — so the single-partition window is
    bounded by construction. The corpus never shuffles beyond the
    partial-agg exchange.
    """
    per = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(ntok_col).cast("long").alias("n_tok_total")
    )
    if abs(alpha - 0.5) < 1e-12:
        w = F.floor(F.sqrt(F.col("n_tok_total").cast("double")))
    else:
        w = F.floor(F.pow(F.col("n_tok_total").cast("double"), F.lit(float(alpha))))
    per = per.withColumn("w", w.cast("long"))
    tot = per.agg(F.sum("w").alias("tot_w"))
    alloc = (
        per.crossJoin(F.broadcast(tot))
        .withColumn(
            "base",
            F.when(F.col("tot_w") > 0, F.expr(f"(w * {ppm_total}) div tot_w")).otherwise(
                F.lit(0)
            ),
        )
        .withColumn(
            "rem",
            F.when(F.col("tot_w") > 0, F.expr(f"(w * {ppm_total}) % tot_w")).otherwise(
                F.lit(0)
            ),
        )
    )
    rank_w = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    frame_w = Window.partitionBy()  # |sources| rows — bounded by design
    out = alloc.withColumn("rk", F.row_number().over(rank_w)).withColumn(
        "deficit",
        F.when(F.col("tot_w") > 0, F.lit(ppm_total) - F.sum("base").over(frame_w)).otherwise(
            F.lit(0)
        ),
    )
    return out.select(
        "source",
        "n_tok_total",
        "w",
        (F.col("base") + (F.col("rk") <= F.col("deficit")).cast("long")).alias(
            "target_ppm"
        ),
    )


def global_shuffle(
    docs: DataFrame,
    seed: str = "s4",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic resume-stable global training-order shuffle: rank
    every doc by ``md5(seed || ':' || doc_id)`` (ties → doc_id). Reruns,
    resumed jobs, and either engine produce the identical permutation —
    the property ``df.orderBy(rand(seed))`` does NOT have (rand() is
    tied to partition layout), and the one a training job needs to
    restart mid-epoch without reshuffling.

    Scale shape: the hash key is uniform by construction, so
    ``repartitionByRange`` on it is skew-free regardless of how hot any
    source/day is; the global rank attaches via the frozen-partition-id
    offset pattern (``merge.with_global_rank``) — no single-partition
    window, no driver-side data beyond one row per partition.
    """
    from .merge import with_global_rank

    n = num_partitions or int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    keyed = docs.withColumn(
        "_shuf", F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    )
    keys = ["_shuf", id_col]
    cols = [F.col(k).asc_nulls_last() for k in keys]
    sorted_df = keyed.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    return with_global_rank(sorted_df, keys=keys, rank_col="shuffle_rank").drop("_shuf")


def perplexity_buckets(
    scored: DataFrame,
    stratum_col: str = "source",
    value_col: str = "ppl",
    labels: tuple[str, str, str] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet-style per-stratum perplexity bucketing (Wenzek et al. 2020,
    §4.3): split each stratum's docs into head / middle / tail thirds of
    the perplexity distribution — head = lowest-ppl (most in-domain)
    third, the slice CCNet keeps by default.

    Exact at any scale via the histogram-first pattern of
    ``curation.length_quantiles``: the raw rows collapse to a
    (stratum, ppl, count) histogram before any window runs, tertile
    thresholds t_k = smallest v with cum·3 ≥ k·total are pure integer
    comparisons over it, and the bounded threshold table broadcasts back
    onto the scored rows — never a window over row-scale data, never a
    hot single-stratum task.
    """
    hist = scored.groupBy(stratum_col, value_col).agg(F.count("*").alias("cnt"))
    w_cum = Window.partitionBy(stratum_col).orderBy(value_col)
    w_all = Window.partitionBy(stratum_col)
    cum = hist.select(
        stratum_col,
        value_col,
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    thr = cum.groupBy(stratum_col).agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("total"), F.col(value_col))).alias("_t1"),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("total"), F.col(value_col))).alias("_t2"),
    )
    bucket = (
        F.when(F.col(value_col) <= F.col("_t1"), F.lit(labels[0]))
        .when(F.col(value_col) <= F.col("_t2"), F.lit(labels[1]))
        .otherwise(F.lit(labels[2]))
    )
    return (
        scored.join(F.broadcast(thr), stratum_col)
        .withColumn("ppl_bucket", bucket)
        .drop("_t1", "_t2")
    )


def fim_transform(
    docs: DataFrame,
    rate_ppm: int = 500_000,
    seed: str = "fim",
    prefix_tok: int = -1,
    suffix_tok: int = -2,
    middle_tok: int = -3,
    mode: str = "psm",
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022), applied at
    the document level before packing, as the paper prescribes: a
    ``rate_ppm``-fraction of documents is rewritten from
    ``prefix‖middle‖suffix`` to

    - PSM: ``<PRE> prefix <SUF> suffix <MID> middle``
    - SPM: ``<PRE> <SUF> suffix <MID> prefix middle``

    Deterministic end to end (the hash-threshold discipline of
    ``sample_to_mixture``): the apply decision and both split points
    derive from md5(seed:doc_id) — resume/re-run stable, layout
    independent, reproducible by any engine with md5. Pure Column
    algebra (slice/concat), map-only: zero Python, zero shuffles.
    Transformed docs grow by exactly 3 sentinel tokens (``n_tok`` is
    recomputed); ``fim_applied`` flags the rewritten rows.
    """
    if mode not in ("psm", "spm"):
        raise ValueError(f"mode must be psm|spm, got {mode!r}")
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 1_000_000
    t = F.col(tokens_col)
    n = F.size(t)
    a = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % (n.cast("long") + 1)
    b = F.conv(F.substring(h, 17, 8), 16, 10).cast("long") % (n.cast("long") + 1)
    s1 = F.least(a, b).cast("int")
    s2 = F.greatest(a, b).cast("int")
    pre = F.slice(t, 1, s1)
    mid = F.slice(t, s1 + 1, s2 - s1)
    suf = F.slice(t, s2 + 1, n - s2)
    p_tok = F.array(F.lit(prefix_tok))
    s_tok = F.array(F.lit(suffix_tok))
    m_tok = F.array(F.lit(middle_tok))
    if mode == "psm":
        rewritten = F.concat(p_tok, pre, s_tok, suf, m_tok, mid)
    else:
        rewritten = F.concat(p_tok, s_tok, suf, m_tok, pre, mid)
    applied = bucket < F.lit(rate_ppm)
    out = docs.withColumn("fim_applied", applied).withColumn(
        tokens_col, F.when(applied, rewritten).otherwise(t)
    )
    if "n_tok" in docs.columns:
        out = out.withColumn("n_tok", F.size(tokens_col))
    return out


def _bfd_compositions(hist: dict[int, int], max_len: int) -> list[tuple[tuple[tuple[int, int], ...], int]]:
    """Best-fit-decreasing bin packing over a LENGTH HISTOGRAM (the
    compressed form of Krell et al. 2021's histogram packing): lengths
    processed descending; each batch of equal-length items goes to the
    group of identical part-filled bins with the smallest remaining
    capacity that fits (tie → oldest group), splitting the group.

    Input/output are both bounded by the length alphabet (≤ max_len
    values), never by corpus size: returns ``[(composition, m)]`` in
    deterministic creation order, where composition is a sorted tuple of
    (length, copies-per-bin) and ``m`` bins share it. Sum of each
    composition ≤ max_len by construction.
    """
    groups: list[dict] = []  # {"cap": int, "m": int, "comp": {L: k}, "seq": int}
    seq = 0
    for L, n in sorted(hist.items(), reverse=True):
        if L > max_len:
            raise ValueError(f"item length {L} exceeds max_len {max_len}")
        while n > 0:
            cands = [g for g in groups if g["m"] > 0 and g["cap"] >= L]
            if not cands:
                groups.append({"cap": max_len - L, "m": n, "comp": {L: 1}, "seq": seq})
                seq += 1
                break
            g = min(cands, key=lambda x: (x["cap"], x["seq"]))
            take = min(n, g["m"])
            comp = dict(g["comp"])
            comp[L] = comp.get(L, 0) + 1
            groups.append({"cap": g["cap"] - L, "m": take, "comp": comp, "seq": seq})
            seq += 1
            g["m"] -= take
            n -= take
    return [
        (tuple(sorted(g["comp"].items(), reverse=True)), g["m"])
        for g in groups
        if g["m"] > 0
    ]


def pack_sequences_bestfit(
    docs: DataFrame, max_len: int = 512, id_col: str = "doc_id"
) -> DataFrame:
    """Bin-packed (padding-minimizing) sequence packing — the
    alternative to :func:`pack_sequences`' concat-and-chunk: documents
    keep their integrity (no mid-document sequence breaks; oversize
    documents are pre-split into max_len pieces), each training sequence
    is a BIN holding whole pieces, and best-fit-decreasing over the
    length histogram minimizes padding (Krell et al. 2021).

    Returns one row per piece:
    ``(doc_id, chunk_no, tok_off, length, bin_id, bin_off)`` —
    piece = tokens[tok_off : tok_off+length] of its doc, placed in
    training sequence ``bin_id`` at offset ``bin_off``. Bins satisfy
    sum(length) ≤ max_len; bin_off slots never overlap.

    100-TB shape: corpus-scale work is (a) one groupBy(length) count —
    the histogram, ≤ max_len rows — and (b) one rank-within-length pass
    (the same two-phase frozen-pid prefix idiom as packing's stream
    offsets: range partition on (length, id), so one hot length spreads
    across partitions). The BFD solve runs on the ≤ max_len-row
    histogram driver-side; the resulting composition table (bounded by
    the length alphabet, not the corpus) broadcasts back, and every
    piece computes its bin id + slot with pure integer arithmetic:
    within composition c consuming ranks [base, base+m·k) of length L,
    rank r ⇒ bin ``bin_base_c + (r-base) // k``, slot
    ``slot_base_{c,L} + ((r-base) mod k)·L``. Deterministic end to end —
    reruns, resumes, and any partitioning produce the identical packing.
    """
    spark = docs.sparkSession
    # pre-split oversize docs into max_len pieces (last piece = remainder)
    n_chunks = F.ceil(F.col("n_tok") / max_len).cast("int")
    pieces = (
        docs.filter(F.col("n_tok") > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            "n_tok",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no"),
        )
        .select(
            "doc_id",
            "chunk_no",
            (F.col("chunk_no").cast("long") * max_len).alias("tok_off"),
            F.least(
                F.lit(max_len).cast("long"),
                F.col("n_tok").cast("long") - F.col("chunk_no").cast("long") * max_len,
            ).cast("int").alias("length"),
        )
    )
    hist_rows = pieces.groupBy("length").count().collect()  # bounded: ≤ max_len rows
    hist = {r["length"]: r["count"] for r in hist_rows}
    if not hist:
        return spark.createDataFrame(
            [], "doc_id string, chunk_no int, tok_off long, length int, bin_id long, bin_off int"
        )
    comps = _bfd_compositions(hist, max_len)
    # flatten to the per-(comp, length) assignment table
    rows = []
    bin_base = 0
    base_by_len: dict[int, int] = {}
    for comp, m in comps:
        slot = 0
        for L, k in comp:  # comp sorted by length desc → slots laid out desc
            base = base_by_len.get(L, 0)
            rows.append((L, base, m, k, bin_base, slot))
            base_by_len[L] = base + m * k
            slot += k * L
        bin_base += m
    assign = spark.createDataFrame(
        rows, "length int, base long, m long, k int, bin_base long, slot_base int"
    )
    # rank within length (0-based, ordered by doc_id then chunk_no):
    # reuse the two-phase prefix idiom — each piece counts 1
    ranked = _with_stream_start(
        pieces.select(
            F.concat_ws("#", "doc_id", F.col("chunk_no").cast("string")).alias("doc_id"),
            F.col("length").cast("string").alias("source"),
            F.lit(1).alias("n_tok"),
            "chunk_no",
            "tok_off",
            F.col("doc_id").alias("_doc"),
            F.col("length").alias("_len"),
        )
    ).select(
        F.col("_doc").alias("doc_id"),
        "chunk_no",
        "tok_off",
        F.col("_len").alias("length"),
        F.col("start").alias("r"),
    )
    j = ranked.join(F.broadcast(assign), "length").filter(
        (F.col("r") >= F.col("base")) & (F.col("r") < F.col("base") + F.col("m") * F.col("k"))
    )
    # integer-exact bin index: subtract the remainder first so the double
    # division is of an exact multiple (a plain (r-base)/k could round up
    # across the integer boundary at extreme rank magnitudes)
    off = F.col("r") - F.col("base")
    rem = off % F.col("k")
    return j.select(
        "doc_id",
        "chunk_no",
        "tok_off",
        "length",
        (F.col("bin_base") + ((off - rem) / F.col("k"))).cast("long").alias("bin_id"),
        (F.col("slot_base") + rem * F.col("length")).cast("int").alias("bin_off"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer — training + encoding
# ---------------------------------------------------------------------------

UNIGRAM_UNK_PENALTY = 10.0


def _viterbi_segment(text: str, logp: dict, max_piece_len: int, unk_logp: float) -> list:
    """Best segmentation of ``text`` under piece log-probs — the shared
    kernel of the training E-step, the final encode, and the sequential
    python reference in tests (sharing it means cross-engine equality
    exercises the DISTRIBUTED parts — seed counting, expected-count
    aggregation, pruning — not float trivia). Ties break to the LONGEST
    piece: ``j`` scans ascending (longest candidate first) with strict
    ``>``. A character absent from the vocabulary falls back to a
    single-char piece at ``unk_logp``, so every string is segmentable
    and ``''.join(pieces) == text`` always holds."""
    n = len(text)
    if n == 0:
        return []
    neg = float("-inf")
    dp = [0.0] + [neg] * n
    back = [0] * (n + 1)
    get = logp.get
    for i in range(1, n + 1):
        best = neg
        bj = i - 1
        for j in range(max(0, i - max_piece_len), i):
            lp = get(text[j:i])
            if lp is None:
                if i - j != 1:
                    continue
                lp = unk_logp
            sc = dp[j] + lp
            if sc > best:
                best = sc
                bj = j
        dp[i] = best
        back[i] = bj
    out = []
    i = n
    while i > 0:
        j = back[i]
        out.append(text[j:i])
        i = j
    out.reverse()
    return out


def _seed_piece_counts(docs: DataFrame, text_col: str, max_piece_len: int) -> DataFrame:
    """``(piece, cnt)`` over every substring of length 1..max_piece_len —
    ONE tagged explode + groupBy with map-side partial aggregation (the
    ``repetition_stats`` shape); SentencePiece's suffix-array seed
    reduced to its distributed equivalent. The exchange carries at most
    one row per (task, distinct piece), never one per occurrence."""
    per_len = [
        F.expr(
            f"IF(length({text_col}) >= {l},"
            f" transform(sequence(1, length({text_col}) - {l} + 1),"
            f" i -> substring({text_col}, i, {l})), array())"
        )
        for l in range(1, max_piece_len + 1)
    ]
    grams = docs.select(F.explode(F.flatten(F.array(*per_len))).alias("piece"))
    return grams.groupBy("piece").agg(F.count("*").cast("long").alias("cnt"))


def _segment_df(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    logp: dict,
    max_piece_len: int,
    unk_logp: float,
) -> DataFrame:
    from pyspark.sql import types as T

    # lookup tables built ONCE on the driver, shipped in the closure;
    # the UDF runs the numpy batch kernel (bit-identical to the
    # sequential reference — no per-row Python walk in the E-step)
    vocab_by_len = _prep_unigram_vocab(logp, max_piece_len)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _seg(s: pd.Series) -> pd.Series:
        texts = ["" if t is None else t for t in s]
        return pd.Series(
            _viterbi_segment_batch(texts, vocab_by_len, max_piece_len, unk_logp)
        )

    return docs.select(F.col(id_col), _seg(F.col(text_col)).alias("pieces"))


def train_unigram(
    docs: DataFrame,
    vocab_size: int = 400,
    max_piece_len: int = 8,
    seed_size: int = 2000,
    n_rounds: int = 3,
    prune_frac: float = 0.2,
    min_freq: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed_sample_ppm: int = 1_000_000,
) -> tuple[list[tuple[str, int, float]], DataFrame]:
    """Distributed unigram-LM tokenizer training (Kudo 2018, the
    SentencePiece unigram model) in its HARD-EM / frequency-pruning
    variant: seed a large candidate vocabulary from raw substring
    frequencies, then alternate (E) Viterbi-segment the corpus under the
    current piece probabilities and (M) re-estimate each piece's
    probability from its segmentation count, pruning the lowest-count
    multi-character pieces each round until ``vocab_size``. Every
    single character seen at seed time stays in the vocabulary for
    coverage (the SentencePiece invariant), so segmentation is total.

    Hard EM (Viterbi counts) instead of soft EM (lattice posteriors) is
    the deliberate determinism choice: round state is an INTEGER count
    per piece, so the aggregate is exact under any partitioning and the
    whole training run is a pure function of the corpus — the same
    cross-engine discipline as ``train_bpe``'s tie-broken merge table.
    Pruning is by count (tie -> lexicographic), not SentencePiece's
    held-out loss; documented divergence, same vocabulary shape.

    Scale shape (100 TB): the seed is one explode + partial-agg groupBy
    (substring vocabulary, bounded by ``seed_size`` after the top-k);
    each round is ONE map-only Arrow E-step (the piece table rides the
    closure — bounded by seed_size, like the DSIR/classifier broadcast
    tables) plus ONE explode + partial-agg count whose key space is the
    vocabulary, not the corpus. Driver state is the (piece, count)
    table — never corpus-scale. The corpus itself is never mutated and
    never shuffles (contrast train_bpe, which rewrites tokens each
    round). The E-step itself is NUMPY-VECTORIZED across the Arrow
    batch (``_viterbi_segment_batch``: exact searchsorted piece lookup
    over rank-compressed uint64 window keys, then a DP whose python
    loop runs over POSITIONS only, each step an in-place vector op
    across all docs) — bit-identical to the sequential reference
    kernel, which the tests assert; no per-row Python walk remains in
    the hot path (input_hint discipline).

    ``seed_sample_ppm`` caps the SEED pass to a deterministic md5
    doc-sample (parts-per-million; the EM rounds always see the full
    corpus). At web scale the raw substring key space of the seed
    aggregate is itself corpus-sized — SentencePiece likewise seeds its
    suffix-array candidates from a bounded sentence sample — and the
    hash sample keeps the whole run layout/resume/engine-deterministic,
    unlike ``df.sample``.

    Returns ``(vocab, segmented)``: ``vocab`` is
    ``[(piece, count, logp), ...]`` sorted by (count desc, piece asc);
    ``segmented`` is ``(id_col, pieces array<string>)`` under the final
    vocabulary. Reference analogue: the DTPD pattern lock-in two-pass
    (syslinereader.rs:1528) — sample statistics choose a model, the
    model re-reads the corpus; here iterated.
    """
    import math

    seed_docs = docs
    if seed_sample_ppm < 1_000_000:
        h = F.conv(
            F.substring(
                F.md5(F.encode(F.concat(F.lit("useed:"), F.col(id_col).cast("string")), "UTF-8")),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        seed_docs = docs.filter(h % 1_000_000 < seed_sample_ppm)
    seed = _seed_piece_counts(seed_docs.select(text_col), text_col, max_piece_len)
    singles = seed.filter(F.length("piece") == 1)
    multis = (
        seed.filter((F.length("piece") > 1) & (F.col("cnt") >= min_freq))
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(seed_size)
    )
    counts = {r["piece"]: int(r["cnt"]) for r in singles.unionByName(multis).collect()}
    if not counts:
        hint = (
            f" (seed_sample_ppm={seed_sample_ppm} selected no docs — raise it)"
            if seed_sample_ppm < 1_000_000
            else " (every document is empty or NULL)"
        )
        raise ValueError("train_unigram: corpus has no text to seed from" + hint)

    def _logp_tables(cnts: dict) -> tuple[dict, float]:
        total = sum(cnts.values())
        return (
            {p: math.log(c / total) for p, c in cnts.items()},
            math.log(1.0 / total) - UNIGRAM_UNK_PENALTY,
        )

    def _prune(cnts: dict, target: int) -> dict:
        if len(cnts) <= target:
            return cnts
        kept = {p: c for p, c in cnts.items() if len(p) == 1}
        keep_m = max(target - len(kept), 0)
        multis_sorted = sorted(
            ((p, c) for p, c in cnts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )
        kept.update(dict(multis_sorted[:keep_m]))
        return kept

    for _ in range(max(n_rounds, 1)):
        logp, unk_logp = _logp_tables(counts)
        pieces_df = _segment_df(docs, text_col, id_col, logp, max_piece_len, unk_logp)
        used = (
            pieces_df.select(F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.count("*").cast("long").alias("cnt"))
            .collect()
        )
        used_counts = {r["piece"]: int(r["cnt"]) for r in used}
        # M-step: singles keep a floor count of 1 (coverage); a
        # multi-char piece the Viterbi never used is dead — drop it
        new_counts = {}
        for p in counts:
            c = used_counts.get(p, 0)
            if len(p) == 1:
                new_counts[p] = max(c, 1)
            elif c > 0:
                new_counts[p] = c
        counts = _prune(
            new_counts, max(vocab_size, int(len(new_counts) * (1.0 - prune_frac)))
        )
    counts = _prune(counts, vocab_size)
    logp, unk_logp = _logp_tables(counts)
    segmented = _segment_df(docs, text_col, id_col, logp, max_piece_len, unk_logp)
    vocab = sorted(
        ((p, c, logp[p]) for p, c in counts.items()), key=lambda t: (-t[1], t[0])
    )
    return vocab, segmented


def apply_unigram(
    docs: DataFrame,
    vocab,
    max_piece_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    emit_ids: bool = False,
) -> DataFrame:
    """Encode a corpus with a trained unigram vocabulary — the inference
    half of ``train_unigram``. ``vocab`` is the training output
    (``(piece, count, logp)`` triples) or a ``{piece: logp}`` dict.

    ONE map-only Arrow stage (``mapInPandas``): the piece table rides in
    the closure (bounded by the trained vocabulary size), the corpus
    never shuffles, and characters outside the vocabulary emit as
    single-char pieces at the UNK score and are counted per document.

    ``emit_ids=True`` adds ``tokens array<int>`` — each piece's id is
    its position in the (count desc, piece asc)-sorted training vocab
    (the training output's own order, so ids are a pure function of the
    corpus); UNK pieces map to ``len(vocab)``. The output then plugs
    straight into the token-domain operators (``pack_sequences``,
    ``assemble_sequences``, ``vocab_stats``, ...).

    Returns ``(id_col, pieces array<string>[, tokens array<int>],
    n_pieces, n_unk)``.
    """
    import math

    if isinstance(vocab, dict):
        logp = dict(vocab)
        unk_logp = (min(logp.values()) if logp else 0.0) - UNIGRAM_UNK_PENALTY
    else:
        logp = {p: lp for p, _c, lp in vocab}
        total = sum(c for _p, c, _lp in vocab)
        unk_logp = math.log(1.0 / total) - UNIGRAM_UNK_PENALTY if total else -UNIGRAM_UNK_PENALTY

    id_type = docs.schema[id_col].dataType.simpleString()
    id_field = ", tokens array<int>" if emit_ids else ""
    schema = (
        f"{id_col} {id_type}, pieces array<string>{id_field}, n_pieces int, n_unk int"
    )
    known = set(logp)
    vocab_by_len = _prep_unigram_vocab(logp, max_piece_len)
    piece_ids = (
        {p: i for i, (p, _c, _lp) in enumerate(vocab)}
        if emit_ids and not isinstance(vocab, dict)
        else {p: i for i, p in enumerate(sorted(logp))}
        if emit_ids
        else None
    )
    unk_id = len(logp)

    def _gen(batches):
        for pdf in batches:
            texts = ["" if t is None else t for t in pdf[text_col]]
            out_pieces = _viterbi_segment_batch(
                texts, vocab_by_len, max_piece_len, unk_logp
            )
            cols = {
                id_col: pdf[id_col].values,
                "pieces": out_pieces,
                "n_pieces": [len(ps) for ps in out_pieces],
                "n_unk": [
                    sum(1 for p in ps if p not in known) for ps in out_pieces
                ],
            }
            if emit_ids:
                cols["tokens"] = [
                    np.array(
                        [piece_ids.get(p, unk_id) for p in ps], dtype=np.int32
                    )
                    for ps in out_pieces
                ]
            yield pd.DataFrame(cols)

    return docs.select(id_col, text_col).mapInPandas(_gen, schema=schema)


def tokenizer_fertility(
    docs: DataFrame,
    segmented: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    pieces_col: str = "pieces",
) -> DataFrame:
    """Tokenizer evaluation over a segmented corpus — the standard
    fertility/compression report used to compare trained tokenizers
    (``apply_unigram`` / ``apply_bpe`` output) across languages or
    domains: per group, pieces-per-word (fertility — lower is better,
    1.0 = every word is one piece), characters-per-piece (compression),
    and the UNK piece rate when the segmentation carries ``n_unk``.

    One broadcast-or-shuffle join on the doc id plus ONE partial-agg
    groupBy on the (bounded) group key — the corpus contributes a
    handful of integer sums per task to the exchange. All ratios divide
    exact integer sums, rounded to 4 places (the gopher-stats
    convention), so a python twin reproduces every value.

    Returns ``(group_col, n_docs, n_pieces, n_words, n_chars,
    fertility, chars_per_piece, unk_rate)``.
    """
    seg_cols = [id_col, pieces_col] + (["n_unk"] if "n_unk" in segmented.columns else [])
    joined = docs.select(
        id_col,
        F.col(group_col),
        F.size(F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0))
        .cast("long")
        .alias("_nw"),
        F.length(text_col).cast("long").alias("_nc"),
    ).join(segmented.select(*seg_cols), id_col)
    n_unk = F.col("n_unk") if "n_unk" in segmented.columns else F.lit(0)
    agg = joined.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(pieces_col)).cast("long").alias("n_pieces"),
        F.sum("_nw").cast("long").alias("n_words"),
        F.sum("_nc").cast("long").alias("n_chars"),
        F.sum(n_unk).cast("long").alias("_unk"),
    )

    def ratio(num, den):
        return F.round(F.when(den > 0, num / den), 4)

    return agg.select(
        group_col,
        "n_docs",
        "n_pieces",
        "n_words",
        "n_chars",
        ratio(F.col("n_pieces"), F.col("n_words")).alias("fertility"),
        ratio(F.col("n_chars"), F.col("n_pieces")).alias("chars_per_piece"),
        ratio(F.col("_unk"), F.col("n_pieces")).alias("unk_rate"),
    )


def _prep_unigram_vocab(logp: dict, max_piece_len: int):
    """Precompute per-length sorted lookup tables for the batch Viterbi:
    for each piece length l, a lexicographically sorted array of the
    vocab's codepoint rows (viewed as fixed-width void records so
    ``searchsorted`` compares whole pieces in C) plus the matching
    log-prob vector. Built ONCE on the driver and shipped in the UDF
    closure — bounded by the vocabulary, never corpus-scale."""
    by_len: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for l in range(1, max_piece_len + 1):
        pieces = [p for p in logp if len(p) == l]
        if not pieces:
            continue
        mat = np.empty((len(pieces), l), dtype=np.uint32)
        for r, p in enumerate(pieces):
            mat[r] = np.frombuffer(p.encode("utf-32-le"), dtype=np.uint32)
        scores = np.array([logp[p] for p in pieces], dtype=np.float64)
        void = np.ascontiguousarray(mat).view(f"V{4 * l}").ravel()
        order = np.argsort(void)
        by_len[l] = (void[order], scores[order])
    return by_len


def _viterbi_segment_batch(
    texts: list,
    vocab_by_len: dict,
    max_piece_len: int,
    unk_logp: float,
    chunk_cells: int = 1_000_000,
) -> list:
    """Vectorized batch form of :func:`_viterbi_segment` — bit-identical
    output (same float64 adds and strict-``>`` longest-piece tie-break,
    asserted by a randomized equivalence test), with the per-character
    work done by numpy instead of a per-row Python walk:

    * candidate scoring: for each piece length l, every window of the
      chunk's flattened codepoint array is matched against the sorted
      vocab table with ONE ``searchsorted`` + equality verify (exact —
      no hashing, no collision risk); misses at l=1 take ``unk_logp``,
      so segmentation stays total.
    * the DP recurrence runs as a Python loop over POSITIONS ONLY
      (``maxlen`` iterations), each step a vectorized max across the
      whole chunk of documents.

    Docs are processed in length-sorted chunks capped at ``chunk_cells``
    padded cells so the (docs x maxlen) score matrices stay small;
    outputs are restored to input order.
    """
    n = len(texts)
    out: list = [None] * n
    lens = np.array([len(t) if t else 0 for t in texts], dtype=np.int64)
    order = np.argsort(lens, kind="stable")
    pos = 0
    while pos < n:
        # grow the chunk while the padded cell budget holds
        end = pos + 1
        while end < n:
            maxlen = int(lens[order[end]])  # sorted: last doc is longest
            if (end + 1 - pos) * max(maxlen, 1) > chunk_cells:
                break
            end += 1
        idxs = order[pos:end]
        _viterbi_chunk(texts, idxs, lens, vocab_by_len, max_piece_len, unk_logp, out)
        pos = end
    return out


def _viterbi_chunk(texts, idxs, lens, vocab_by_len, L, unk_logp, out) -> None:
    neg = -np.inf
    chunk_lens = lens[idxs]
    maxlen = int(chunk_lens.max()) if len(idxs) else 0
    if maxlen == 0:
        for i in idxs:
            out[i] = []
        return
    nd = len(idxs)
    total = int(chunk_lens.sum())
    flat = np.empty(total, dtype=np.uint32)
    offsets = np.zeros(nd, dtype=np.int64)
    o = 0
    for k, i in enumerate(idxs):
        t = texts[i]
        ln = int(chunk_lens[k])
        offsets[k] = o
        if ln:
            flat[o : o + ln] = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
        o += ln
    ends = offsets + chunk_lens
    doc_of = np.repeat(np.arange(nd), chunk_lens)
    ar = np.arange(total, dtype=np.int64)
    local = ar - offsets[doc_of]

    # rank-compress the chunk's codepoints so window keys pack into
    # uint64 (exact positional encoding, base = |alphabet| — injective,
    # no hashing/collisions); vocab pieces re-key against the SAME rank
    # table, pieces using codepoints absent from the chunk cannot match
    # and are dropped for this chunk. Native-int searchsorted is ~10x
    # the void-record compare path.
    uniq = np.unique(flat)
    # guard in PYTHON ints: numpy uint64 power wraps mod 2^64, which
    # could falsely enable packing past the injectivity bound (review
    # r4.4 #2 — e.g. 1650**6 wraps below 2^62)
    use_packed = 0 < len(uniq) and len(uniq) ** L < (1 << 62)
    B = np.uint64(max(len(uniq), 1))
    ranks = np.searchsorted(uniq, flat).astype(np.uint64) if use_packed else None

    def keys_for_l(l: int):
        """(window_keys_for_chunk, vocab_keys_sorted, vocab_scores_sorted)."""
        tbl = vocab_by_len.get(l)
        if use_packed:
            kk = ranks[: total - l + 1].copy()
            for step in range(1, l):
                kk *= B
                kk += ranks[step : total - l + 1 + step]
            if tbl is None:
                return kk, None, None
            keys_v, scores_v = tbl
            mat = keys_v.view(np.uint32).reshape(len(keys_v), l)
            pr = np.searchsorted(uniq, mat)
            prc = np.minimum(pr, max(len(uniq) - 1, 0))
            ok = (uniq[prc] == mat).all(axis=1)
            pk = np.zeros(len(keys_v), dtype=np.uint64)
            prc_u = prc.astype(np.uint64)
            for c in range(l):
                pk *= B
                pk += prc_u[:, c]
            pk, sc = pk[ok], scores_v[ok]
            order = np.argsort(pk, kind="stable")
            return kk, pk[order], sc[order]
        win = np.lib.stride_tricks.sliding_window_view(flat, l)
        winv = np.ascontiguousarray(win).view(f"V{4 * l}").ravel()
        if tbl is None:
            return winv, None, None
        return winv, tbl[0], tbl[1]

    # S[l]: (maxlen, nd) — row i is CONTIGUOUS so the dp loop streams it
    S = {}
    for l in range(1, L + 1):
        sc_flat = np.full(total, neg)
        if total >= l:
            nwin = total - l + 1
            valid = (ar[:nwin] + l) <= ends[doc_of[:nwin]]
            wkeys, vkeys, vscores = keys_for_l(l)
            if vkeys is not None and len(vkeys):
                ix = np.searchsorted(vkeys, wkeys)
                ixc = np.minimum(ix, len(vkeys) - 1)
                hit = (vkeys[ixc] == wkeys) & valid
                sc_flat[:nwin][hit] = vscores[ixc[hit]]
            if l == 1:
                miss = valid & (sc_flat[:nwin] == neg)
                sc_flat[:nwin][miss] = unk_logp
        S_l = np.full((maxlen, nd), neg)
        S_l[local, doc_of] = sc_flat
        S[l] = S_l

    # dp over positions: python loop over maxlen only; every step is a
    # handful of allocation-free in-place ops on contiguous nd-rows
    dp = np.full((maxlen + 1, nd), neg)
    dp[0] = 0.0
    back_l = np.ones((maxlen + 1, nd), dtype=np.int32)
    tmp = np.empty(nd)
    mask = np.empty(nd, dtype=bool)
    for i in range(1, maxlen + 1):
        best = dp[i]
        bl = back_l[i]
        # l ASCENDS with >= so equal scores end on the larger l —
        # the same longest-piece tie-break as the sequential kernel
        for l in range(1, min(i, L) + 1):
            np.add(dp[i - l], S[l][i - l], out=tmp)
            np.greater_equal(tmp, best, out=mask)
            np.copyto(best, tmp, where=mask)
            np.copyto(bl, l, where=mask)

    for k, i in enumerate(idxs):
        ln = int(chunk_lens[k])
        if ln == 0:
            out[i] = []
            continue
        t = texts[i]
        bl_list = back_l[: ln + 1, k].tolist()  # plain ints beat numpy scalars
        pieces = []
        p = ln
        while p > 0:
            l = bl_list[p]
            pieces.append(t[p - l : p])
            p -= l
        pieces.reverse()
        out[i] = pieces


def ul2_span_corruption(
    docs: DataFrame,
    rate_ppm: int = 150_000,
    mean_span: int = 3,
    sentinel_base: int = -101,
    seed: str = "ul2",
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """T5/UL2-style span-corruption denoising transform (Raffel et al.
    2020 §3.1.4; Tay et al. 2022): k token spans are cut out of each
    document and replaced by per-span sentinels; the decoder target is
    ``sentinel_i ‖ span_i`` for each span plus a closing sentinel.

    Deterministic variant of the paper's random spans (the
    ``fim_transform`` hash discipline): ``k = clamp(round-down(
    n·rate/mean_span), 1, n // mean_span)`` spans of FIXED length
    ``mean_span``, one inside each of k equal token segments, the
    in-segment offset derived from md5(seed:doc_id:i) — resume-stable,
    layout-independent, recomputable by any engine with md5. Documents
    shorter than ``mean_span`` pass through uncorrupted (targets
    empty). Pure Column algebra (sequence/transform/flatten/slice),
    map-only: zero Python, zero shuffles, zero driver rows.

    Returns the input columns plus ``inputs`` (corrupted stream),
    ``targets`` (denoising targets), ``n_spans``, ``corrupted``.
    """
    t = F.col(tokens_col)
    n = F.size(t)
    mu = mean_span
    k_raw = F.floor(n * F.lit(rate_ppm) / F.lit(1_000_000.0) / F.lit(mu)).cast("int")
    k = F.when(n >= mu, F.greatest(F.least(k_raw, (n / mu).cast("int")), F.lit(1))).otherwise(
        F.lit(0)
    )

    def h32(i):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(seed), F.col(id_col).cast("string"), i.cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    def seg_start(i):
        return F.floor(i * n / k).cast("int")

    def seg_end(i):
        return F.floor((i + 1) * n / k).cast("int")

    def span_start(i):
        room = seg_end(i) - seg_start(i) - mu + 1
        return (seg_start(i) + (h32(i) % room).cast("int"))

    def sent(i):
        return (F.lit(sentinel_base) - i).cast("int")

    idx = F.sequence(F.lit(0), k - 1)
    inputs = F.flatten(
        F.transform(
            idx,
            lambda i: F.concat(
                F.slice(t, seg_start(i) + 1, span_start(i) - seg_start(i)),
                F.array(sent(i)),
                F.slice(t, span_start(i) + mu + 1, seg_end(i) - span_start(i) - mu),
            ),
        )
    )
    targets = F.concat(
        F.flatten(
            F.transform(
                idx, lambda i: F.concat(F.array(sent(i)), F.slice(t, span_start(i) + 1, mu))
            )
        ),
        F.array((F.lit(sentinel_base) - k).cast("int")),
    )
    empty = F.expr("array()").cast("array<int>")
    return (
        docs.withColumn("n_spans", k.cast("bigint"))
        .withColumn("corrupted", k > 0)
        .withColumn("inputs", F.when(k > 0, inputs).otherwise(t))
        .withColumn("targets", F.when(k > 0, targets).otherwise(empty))
    )
