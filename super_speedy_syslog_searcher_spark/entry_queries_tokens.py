"""Driver-contract queries + DuckDB oracles for the token-domain
operators (sequence packing, vocabulary stats) over the rendered
input_hint corpus (events → one tokenized single-line doc per event,
tokens = UTF-32 codepoints — same rendering the pipeline queries use).

The oracles re-render every line in SQL (the shared ``_SQL_LINE_EXPR``
twin of ``_line_expr``) and recompute the packing with a plain window
cumsum — verifying the engine's two-phase distributed prefix sum against
the textbook single-window definition, and the chunk token sums against
first-principles codepoint arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries import _SQL_LINE_EXPR, rendered_docs
from .operators.tokens import bpe_pair_stats, pack_sequences, vocab_stats

PACK_MAX_LEN = 512

MIX_TARGETS_PPM = {
    "ev0": 250_000,
    "ev1": 200_000,
    "ev2": 150_000,
    "ev3": 100_000,
    "ev4": 100_000,
    "ev5": 80_000,
    "ev6": 70_000,
    "ev7": 50_000,
}
MIX_BUCKETS = 1_000_000

_SQL_DOCS = f"""
docs AS (
  SELECT 'ev' || (user_id % 8) AS source,
         'e' || lpad(CAST(event_id AS VARCHAR), 12, '0') AS doc_id,
         ({_SQL_LINE_EXPR}) AS line
  FROM events
)
"""


def q_tokens_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk map of GPT-style concat-and-chunk sequence packing at
    max_len=512 over the rendered corpus; chunk_sum ties the map to the
    actual token values."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return pack_sequences(rendered_docs(spark, sf_dir), max_len=PACK_MAX_LEN)


_SQL_PACK_CTES = f"""
WITH {_SQL_DOCS.strip()},
sized AS (
  SELECT source, doc_id, line, CAST(length(line) AS BIGINT) AS n_tok FROM docs
),
started AS (
  SELECT source, doc_id, line, n_tok,
         CAST(COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
  FROM sized
),
chunks AS (
  SELECT source, doc_id, line, n_tok, start,
         unnest(generate_series(start // {PACK_MAX_LEN},
                                (start + n_tok - 1) // {PACK_MAX_LEN})) AS seq_id
  FROM started
),
bounds AS (
  SELECT source, doc_id, line, start, seq_id,
         greatest(start, seq_id * {PACK_MAX_LEN}) AS g0,
         least(start + CAST(length(line) AS BIGINT), (seq_id + 1) * {PACK_MAX_LEN}) AS g1
  FROM chunks
)
"""

SQL_TOKENS_PACK = f"""
{_SQL_PACK_CTES.strip()}
SELECT source,
       CAST(seq_id AS BIGINT) AS seq_id,
       doc_id,
       CAST(g0 - start AS BIGINT) AS tok_off,
       CAST(g0 - seq_id * {PACK_MAX_LEN} AS BIGINT) AS seq_off,
       CAST(g1 - g0 AS BIGINT) AS chunk_len,
       CAST(list_sum(list_transform(generate_series(CAST(g0 - start + 1 AS INT),
                                                    CAST(g1 - start AS INT)),
                                    i -> unicode(substr(line, i, 1)))) AS BIGINT) AS chunk_sum
FROM bounds
"""


def q_tokens_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized packed sequences themselves: per (source, seq_id)
    the assembled max_len token row, content-checked as the md5 of the
    comma-joined token values (the driver comparator hashes scalar cells
    only) — full token-array equality, the strongest form of the
    north_rule invariant."""
    from .operators.curation import hash_bucket
    from .operators.tokens import assemble_sequences

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = rendered_docs(spark, sf_dir)
    # r4.3: loss-mask contract under the gate — every ~5th doc (md5-
    # derived, engine-independent) carries a masked token span [2, 9);
    # the twin recomputes the same spans and mask arrays from scratch
    spans = (
        docs.select("doc_id")
        .filter(hash_bucket(F.concat(F.lit("span:"), F.col("doc_id")), 5) == 0)
        .select("doc_id", F.lit(2).alias("beg"), F.lit(9).alias("end"))
    )
    out = assemble_sequences(docs, max_len=PACK_MAX_LEN, mask_spans=spans)
    joined = F.concat_ws(",", F.transform("tokens", lambda t: t.cast("string")))
    mask_joined = F.concat_ws(",", F.transform("loss_mask", lambda m: m.cast("string")))
    return out.select(
        "source",
        F.col("seq_id").cast("bigint").alias("seq_id"),
        F.md5(joined).alias("tokens_md5"),
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        # document-boundary reset points (attention-mask starts), as a
        # scalar string so the driver comparator can hash it
        F.concat_ws(",", F.transform("doc_starts", lambda s: s.cast("string"))).alias(
            "doc_starts"
        ),
        F.md5(mask_joined).alias("loss_mask_md5"),
        F.col("n_masked").cast("bigint").alias("n_masked"),
    )


SQL_TOKENS_ASSEMBLE = f"""
{_SQL_PACK_CTES.strip()},
parts AS (
  SELECT source, seq_id,
         CAST(g0 - seq_id * {PACK_MAX_LEN} AS BIGINT) AS seq_off,
         (g0 = start) AS is_start,
         list_transform(generate_series(CAST(g0 - start + 1 AS INT),
                                        CAST(g1 - start AS INT)),
                        i -> unicode(substr(line, i, 1))) AS part,
         list_transform(generate_series(CAST(g0 - start AS INT),
                                        CAST(g1 - start - 1 AS INT)),
                        p -> CASE WHEN CAST('0x' || substr(md5('span:' || doc_id), 1, 8) AS BIGINT) % 5 = 0
                                       AND p >= 2 AND p < 9
                                  THEN 0 ELSE 1 END) AS mask
  FROM bounds
),
asm AS (
  SELECT source, CAST(seq_id AS BIGINT) AS seq_id,
         flatten(list(part ORDER BY seq_off)) AS tokens,
         flatten(list(mask ORDER BY seq_off)) AS lm,
         CAST(count(*) AS BIGINT) AS n_docs,
         COALESCE(array_to_string(list(seq_off ORDER BY seq_off) FILTER (WHERE is_start), ','), '')
           AS doc_starts
  FROM parts GROUP BY source, seq_id
)
SELECT source, seq_id,
       md5(array_to_string(tokens, ',')) AS tokens_md5,
       CAST(len(tokens) AS BIGINT) AS n_tok,
       n_docs,
       doc_starts,
       md5(array_to_string(lm, ',')) AS loss_mask_md5,
       CAST(len(list_filter(lm, m -> m = 0)) AS BIGINT) AS n_masked
FROM asm
"""


def q_tokens_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: per token value, occurrences + doc frequency."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = vocab_stats(rendered_docs(spark, sf_dir))
    return out.select(F.col("token").cast("bigint"), "n_occ", "n_docs")


SQL_TOKENS_VOCAB = f"""
WITH {_SQL_DOCS.strip()},
toks AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, length(line)),
                               i -> unicode(substr(line, i, 1)))) AS token
  FROM docs
)
SELECT CAST(token AS BIGINT) AS token,
       CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM toks GROUP BY token
"""


def q_tokens_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling applied END-TO-END (upgrades the former
    rates-only row): per source, the exact integer keep-bucket threshold
    realizing the target token mixture at max retention, plus the
    ACHIEVED kept doc/token totals from the deterministically sampled
    corpus (``tokens.sample_to_mixture``). Every output column is an
    integer, so the oracle match is exact — the kept SET, not just the
    rate table, is verified.
    r4: also joins ``tokens.temperature_targets`` (alpha=0.5 sampling
    targets — floor(sqrt) weights + integer largest-remainder split, so
    the DuckDB twin reproduces every value exactly)."""
    from .operators.tokens import mixture_sample_stats, temperature_targets

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = rendered_docs(spark, sf_dir)
    stats = mixture_sample_stats(docs, MIX_TARGETS_PPM, n_buckets=MIX_BUCKETS)
    temp = temperature_targets(docs).select(
        "source",
        F.col("w").alias("temp_w"),
        F.col("target_ppm").alias("temp_target_ppm"),
    )
    return stats.join(temp, "source")


_MIX_PPM_CASE = "CASE source " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_TARGETS_PPM.items())
) + " END"

# Exact-integer twin of tokens._mixture_thresholds: binding source via
# cross-multiplied fraction comparison (HUGEINT — products reach ~1e19),
# keep_buckets = ceil(ppm_s*nb*NB / (pb*n_tok_s)), keep rule = md5 bucket
# of the doc id below the threshold. No float touches any compared value.
SQL_TOKENS_MIXTURE = f"""
WITH {_SQL_DOCS.strip()},
sized AS (
  SELECT source, doc_id, CAST(length(line) AS BIGINT) AS n_tok FROM docs
),
per AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tok_total,
         CAST({_MIX_PPM_CASE} AS BIGINT) AS ppm
  FROM sized GROUP BY source
  HAVING ppm IS NOT NULL AND ppm > 0
),
bind AS (
  SELECT s.n_tok_total AS nb, s.ppm AS pb FROM per s
  WHERE NOT EXISTS (
    SELECT 1 FROM per t
    WHERE CAST(t.n_tok_total AS HUGEINT) * s.ppm < CAST(s.n_tok_total AS HUGEINT) * t.ppm
       OR (CAST(t.n_tok_total AS HUGEINT) * s.ppm = CAST(s.n_tok_total AS HUGEINT) * t.ppm
           AND t.source < s.source))
),
thr AS (
  SELECT source, n_tok_total, ppm,
         CASE WHEN nb = 0 OR n_tok_total = 0 THEN 0
              ELSE CAST((CAST(ppm AS HUGEINT) * nb * {MIX_BUCKETS}
                         + CAST(pb AS HUGEINT) * n_tok_total - 1)
                        // (CAST(pb AS HUGEINT) * n_tok_total) AS BIGINT)
         END AS keep_buckets
  FROM per, bind
),
kept AS (
  SELECT s.source, count(*) AS n_docs_kept, sum(s.n_tok) AS n_tok_kept
  FROM sized s JOIN thr USING (source)
  WHERE CAST('0x' || substr(md5(s.doc_id), 1, 8) AS BIGINT) % {MIX_BUCKETS}
        < thr.keep_buckets
  GROUP BY s.source
),
tw AS (
  SELECT source, CAST(floor(sqrt(CAST(sum(n_tok) AS DOUBLE))) AS BIGINT) AS w
  FROM sized GROUP BY source
),
twt AS (SELECT CAST(sum(w) AS BIGINT) AS tot_w FROM tw),
talloc AS (
  SELECT source, w,
         CASE WHEN tot_w > 0 THEN (w * 1000000) // tot_w ELSE 0 END AS base,
         CASE WHEN tot_w > 0 THEN (w * 1000000) % tot_w ELSE 0 END AS rem,
         row_number() OVER (
           ORDER BY CASE WHEN tot_w > 0 THEN (w * 1000000) % tot_w ELSE 0 END DESC,
                    source) AS rk,
         tot_w
  FROM tw, twt
),
tdef AS (SELECT CAST(1000000 - sum(base) AS BIGINT) AS deficit FROM talloc),
ttarget AS (
  SELECT source, w AS temp_w,
         CAST(base + CASE WHEN tot_w > 0 AND rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
           AS temp_target_ppm
  FROM talloc, tdef
)
SELECT t.source, t.n_tok_total, t.ppm AS target_ppm, t.keep_buckets,
       CAST(COALESCE(k.n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
       CAST(COALESCE(k.n_tok_kept, 0) AS BIGINT) AS n_tok_kept,
       tt.temp_w, tt.temp_target_ppm
FROM thr t LEFT JOIN kept k USING (source) JOIN ttarget tt USING (source)
"""


def q_tokens_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token-pair frequencies (one BPE counting step) over the
    rendered corpus."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return bpe_pair_stats(rendered_docs(spark, sf_dir))


SQL_TOKENS_BPE_PAIRS = f"""
WITH {_SQL_DOCS.strip()},
pairs AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, length(line) - 1),
                               i -> [unicode(substr(line, i, 1)),
                                     unicode(substr(line, i + 1, 1))])) AS p
  FROM docs WHERE length(line) >= 2
)
SELECT CAST(p[1] AS BIGINT) AS "left",
       CAST(p[2] AS BIGINT) AS "right",
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM pairs GROUP BY 1, 2
"""


LM_BUCKETS = 65536


def q_tokens_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bigram-LM quality score per doc, UPGRADED with (a)
    CCNet-style per-source head/middle/tail perplexity bucketing
    (Wenzek et al. 2020): exact tertile thresholds from a
    (source, ppl, count) histogram — the slice selection CCNet trains
    its LM filter for; and (b) the trigram STUPID BACKOFF score of
    Brants et al. 2007 (the canonical web-scale distributed LM:
    count-ratio scores, fixed 0.4 backoff penalty, pruned hashed count
    tables) — per-doc mean log-score, perplexity form, and the
    backed-off fraction. All verified value-for-value against the
    DuckDB twin."""
    from .operators.tokens import bigram_logprob, perplexity_buckets, stupid_backoff_logprob

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = rendered_docs(spark, sf_dir)
    scored = bigram_logprob(docs, n_buckets=LM_BUCKETS, carry_cols=("source",))
    sb = stupid_backoff_logprob(docs, n_buckets=LM_BUCKETS, min_count=2).select(
        "doc_id", "n_trigrams", "sb_mean_logprob", "sb_ppl", "sb_backoff_frac"
    )
    return (
        perplexity_buckets(scored)
        .join(sb, "doc_id", "left")
        .select(
            "doc_id", "source", "n_bigrams", "mean_logprob", "ppl", "ppl_bucket",
            "n_trigrams", "sb_mean_logprob", "sb_ppl", "sb_backoff_frac",
        )
    )


SQL_TOKENS_BIGRAM_LM = f"""
WITH {_SQL_DOCS.strip()},
prs AS (
  SELECT doc_id, source,
         unicode(substr(line, i, 1)) AS l,
         unicode(substr(line, i + 1, 1)) AS r
  FROM (SELECT doc_id, source, line, unnest(generate_series(1, length(line) - 1)) AS i
        FROM docs WHERE length(line) >= 2)
),
feats AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5(CAST(l AS VARCHAR) || ',' || CAST(r AS VARCHAR)), 1, 8) AS BIGINT) % {LM_BUCKETS} AS pb,
         CAST('0x' || substr(md5(CAST(l AS VARCHAR)), 1, 8) AS BIGINT) % {LM_BUCKETS} AS ub
  FROM prs
),
pcnt AS (SELECT pb, count(*) AS c_p FROM feats GROUP BY pb),
ucnt AS (SELECT ub, count(*) AS c_u FROM feats GROUP BY ub),
scored AS (
  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(ln((c_p + 1) / CAST(c_u + {LM_BUCKETS} AS DOUBLE))), 4) AS mean_logprob,
         round(exp(-avg(ln((c_p + 1) / CAST(c_u + {LM_BUCKETS} AS DOUBLE)))), 4) AS ppl
  FROM feats JOIN pcnt USING (pb) JOIN ucnt USING (ub)
  GROUP BY doc_id, source
),
hist AS (SELECT source, ppl, count(*) AS cnt FROM scored GROUP BY source, ppl),
cum AS (
  SELECT source, ppl,
         sum(cnt) OVER (PARTITION BY source ORDER BY ppl) AS cum,
         sum(cnt) OVER (PARTITION BY source) AS total
  FROM hist
),
thr AS (
  SELECT source,
         min(CASE WHEN cum * 3 >= total THEN ppl END) AS t1,
         min(CASE WHEN cum * 3 >= 2 * total THEN ppl END) AS t2
  FROM cum GROUP BY source
),
tris AS (
  SELECT doc_id,
         unicode(substr(line, i, 1)) AS l,
         unicode(substr(line, i + 1, 1)) AS m,
         unicode(substr(line, i + 2, 1)) AS r
  FROM (SELECT doc_id, line, unnest(generate_series(1, length(line) - 2)) AS i
        FROM docs WHERE length(line) >= 3)
),
tfeats AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(l AS VARCHAR) || ',' || CAST(m AS VARCHAR) || ',' || CAST(r AS VARCHAR)), 1, 8) AS BIGINT) % {LM_BUCKETS} AS tb,
         CAST('0x' || substr(md5(CAST(l AS VARCHAR) || ',' || CAST(m AS VARCHAR)), 1, 8) AS BIGINT) % {LM_BUCKETS} AS cb,
         CAST('0x' || substr(md5(CAST(m AS VARCHAR) || ',' || CAST(r AS VARCHAR)), 1, 8) AS BIGINT) % {LM_BUCKETS} AS bb,
         CAST('0x' || substr(md5(CAST(m AS VARCHAR)), 1, 8) AS BIGINT) % {LM_BUCKETS} AS mb,
         CAST('0x' || substr(md5(CAST(r AS VARCHAR)), 1, 8) AS BIGINT) % {LM_BUCKETS} AS rb
  FROM tris
),
tcnt AS (SELECT tb, count(*) AS c_t FROM tfeats GROUP BY tb),
bcnt_sb AS (SELECT pb AS b, count(*) AS c_b FROM feats GROUP BY pb),
unis AS (
  SELECT CAST('0x' || substr(md5(CAST(unicode(substr(line, i, 1)) AS VARCHAR)), 1, 8) AS BIGINT) % {LM_BUCKETS} AS b
  FROM (SELECT line, unnest(generate_series(1, length(line))) AS i
        FROM docs WHERE length(line) >= 1)
),
ucnt_sb AS (SELECT b, count(*) AS c_u FROM unis GROUP BY b),
ntot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM unis),
sbj AS (
  SELECT f.doc_id,
         CASE WHEN t.c_t IS NOT NULL THEN ln(t.c_t / ctx.c_b)
              WHEN bk.c_b IS NOT NULL THEN ln(CAST(0.4 AS DOUBLE) * bk.c_b / m.c_u)
              ELSE ln(CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) * r.c_u / ntot.n) END AS s,
         CASE WHEN t.c_t IS NULL THEN 1.0 ELSE 0.0 END AS bo
  FROM tfeats f
  LEFT JOIN (SELECT tb, c_t FROM tcnt WHERE c_t >= 2) t USING (tb)
  JOIN bcnt_sb ctx ON ctx.b = f.cb
  LEFT JOIN (SELECT b, c_b FROM bcnt_sb WHERE c_b >= 2) bk ON bk.b = f.bb
  JOIN ucnt_sb m ON m.b = f.mb
  JOIN ucnt_sb r ON r.b = f.rb
  CROSS JOIN ntot
),
sb AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         round(avg(s), 4) AS sb_mean_logprob,
         round(exp(-avg(s)), 4) AS sb_ppl,
         round(avg(bo), 4) AS sb_backoff_frac
  FROM sbj GROUP BY doc_id
)
SELECT s.doc_id, s.source, s.n_bigrams, s.mean_logprob, s.ppl,
       CASE WHEN s.ppl <= t.t1 THEN 'head'
            WHEN s.ppl <= t.t2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket,
       sb.n_trigrams, sb.sb_mean_logprob, sb.sb_ppl, sb.sb_backoff_frac
FROM scored s JOIN thr t USING (source)
LEFT JOIN sb ON sb.doc_id = s.doc_id
"""


def q_stream_tokens_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING face of sequence packing: readStream over the
    tokenized corpus → stateful per-source offset carry
    (applyInPandasWithState) → chunk map. Output is identical to the
    batch operator, so the oracle is the SAME SQL as ``tokens_pack``."""
    import shutil
    import tempfile
    import uuid

    from .streaming.stateful import pack_sequences_stateful

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = tempfile.mkdtemp(prefix="s4spark_stream_pack_")
    name = f"stream_pack_{uuid.uuid4().hex[:8]}"
    try:
        docs_dir = f"{work}/docs"
        rendered_docs(spark, sf_dir).repartition(8).write.mode("overwrite").parquet(docs_dir)
        schema = spark.read.parquet(docs_dir).schema
        stream = spark.readStream.schema(schema).parquet(docs_dir)
        q = (
            pack_sequences_stateful(stream, max_len=PACK_MAX_LEN)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        from .streaming.pipeline import await_or_raise

        await_or_raise(q, 600)
        out = spark.table(name)
        rows = out.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(work, ignore_errors=True)


FIM_RATE_PPM = 400_000


def q_tokens_fim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022) over the
    rendered corpus, PSM mode: the apply decision and both split points
    derive from md5('fim':doc_id), so the DuckDB oracle recomputes the
    SAME buckets and cut points from first principles and re-assembles
    prefix‖suffix‖middle with sentinels — full token-array equality via
    the md5 of the rewritten array (the hash convention of
    ``tokens_assemble``)."""
    from .operators.tokens import fim_transform, ul2_span_corruption

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = rendered_docs(spark, sf_dir)
    out = fim_transform(docs, rate_ppm=FIM_RATE_PPM, seed="fim", mode="psm")

    def joined(col):
        return F.concat_ws(",", F.transform(col, lambda t: t.cast("string")))

    fim = out.select(
        F.lit("fim").alias("kind"),
        "doc_id",
        "source",
        F.md5(joined("tokens")).alias("tokens_md5"),
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.col("fim_applied").cast("int").alias("applied"),
    )
    # r4.5 absorption: UL2/T5 span corruption in the same row, full
    # token-array equality via md5(inputs || '|' || targets)
    u = ul2_span_corruption(docs, rate_ppm=150_000, mean_span=3)
    ul2 = u.select(
        F.lit("ul2").alias("kind"),
        "doc_id",
        "source",
        F.md5(
            F.concat(joined("inputs"), F.lit("|"), joined("targets"))
        ).alias("tokens_md5"),
        (F.size("inputs") + F.size("targets")).cast("bigint").alias("n_tok"),
        F.col("corrupted").cast("int").alias("applied"),
    )
    return fim.unionByName(ul2)


SQL_TOKENS_FIM = f"""
WITH {_SQL_DOCS.strip()},
tok AS (
  SELECT source, doc_id,
         list_transform(generate_series(1, length(line)),
                        i -> unicode(substr(line, i, 1))) AS tokens,
         md5('fim:' || doc_id) AS h
  FROM docs
),
cuts AS (
  SELECT source, doc_id, tokens, len(tokens) AS n,
         CAST('0x' || substr(h, 1, 8) AS BIGINT) % 1000000 AS bucket,
         CAST('0x' || substr(h, 9, 8) AS BIGINT) % (len(tokens) + 1) AS ca,
         CAST('0x' || substr(h, 17, 8) AS BIGINT) % (len(tokens) + 1) AS cb
  FROM tok
),
sp AS (
  SELECT source, doc_id, tokens, n, bucket,
         CAST(least(ca, cb) AS INT) AS s1, CAST(greatest(ca, cb) AS INT) AS s2
  FROM cuts
),
fim AS (
  SELECT source, doc_id,
         CASE WHEN bucket < {FIM_RATE_PPM}
              THEN [-1] || tokens[1:s1] || [-2] || tokens[s2+1:n] || [-3] || tokens[s1+1:s2]
              ELSE tokens END AS out_tokens,
         CAST(bucket < {FIM_RATE_PPM} AS INT) AS fim_applied
  FROM sp
),
u2k AS (
  SELECT source, doc_id, tokens, len(tokens) AS n,
         CASE WHEN len(tokens) >= 3
              THEN greatest(least(CAST(floor(len(tokens) * 150000 / 1000000.0 / 3) AS INT),
                                  len(tokens) // 3), 1)
              ELSE 0 END AS k
  FROM tok
),
u2sp AS (
  SELECT source, doc_id, tokens, k, g.i,
         (g.i * n) // k AS s0, ((g.i + 1) * n) // k AS s1,
         (g.i * n) // k
           + CAST('0x' || substr(md5('ul2:' || doc_id || ':' || g.i), 1, 8) AS BIGINT)
             % (((g.i + 1) * n) // k - (g.i * n) // k - 3 + 1) AS st
  FROM u2k, unnest(generate_series(0, k - 1)) AS g(i)
  WHERE k > 0
),
u2parts AS (
  SELECT source, doc_id, max(k) AS k,
         flatten(list(tokens[s0+1:st] || [-101 - i] || tokens[st+3+1:s1] ORDER BY i)) AS inp,
         flatten(list([-101 - i] || tokens[st+1:st+3] ORDER BY i)) AS tgt
  FROM u2sp GROUP BY 1, 2
),
u2f AS (
  SELECT t.source, t.doc_id,
         coalesce(p.inp, t.tokens) AS inputs,
         CASE WHEN p.doc_id IS NOT NULL THEN p.tgt || [-101 - p.k]
              ELSE CAST([] AS BIGINT[]) END AS targets,
         coalesce(p.k, 0) AS k
  FROM u2k t LEFT JOIN u2parts p USING (source, doc_id)
)
SELECT 'fim' AS kind, doc_id, source,
       md5(array_to_string(out_tokens, ',')) AS tokens_md5,
       CAST(len(out_tokens) AS BIGINT) AS n_tok,
       fim_applied AS applied
FROM fim
UNION ALL
SELECT 'ul2' AS kind, doc_id, source,
       md5(array_to_string(inputs, ',') || '|' || array_to_string(targets, ',')) AS tokens_md5,
       CAST(len(inputs) + len(targets) AS BIGINT) AS n_tok,
       CAST(k > 0 AS INT) AS applied
FROM u2f
"""


def q_tokens_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed tokenizer MERGE TRAINING over the rendered corpus —
    the learned merge tables (algo, merge_no, left, right, new_id,
    n_pairs) for BOTH count-objective BPE (8 rounds) and
    likelihood-objective WordPiece (4 rounds; r5 absorption —
    ``tokens.train_wordpiece``, winner = argmax n_pair/(n_left·n_right)
    resolved in exact integer arithmetic). The training loops are
    ITERATIVE (one corpus aggregate + one rewrite per round); with the
    round counts FIXED they unroll to chained SQL rounds, so the driver
    row is hash-checked against ``_bpe_train_oracle_sql()`` (pair-count
    group-by + relational greedy rewrite per round; the WordPiece winner
    restated as a HUGEINT cross-multiplication anti-join — exact
    fraction comparison, no float scores anywhere in the oracle). pytest
    additionally pins exact merge-table + rewritten-corpus equality vs
    the sequential textbook references (tests/test_tokens.py,
    tests/test_wordpiece.py)."""
    from .operators.tokens import train_bpe, train_wordpiece

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    merges_b, _ = train_bpe(rendered_docs(spark, sf_dir), num_merges=8)
    merges_w, _ = train_wordpiece(rendered_docs(spark, sf_dir), num_merges=4)
    rows = [("bpe", *(int(x) for x in m)) for m in merges_b] + [
        ("wordpiece", *(int(x) for x in m)) for m in merges_w
    ]
    return spark.createDataFrame(
        rows,
        "algo string, merge_no int, left int, right int, new_id int, n_pairs bigint",
    )


def q_tokens_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing sequence packing (Krell et al. 2021) over the
    rendered corpus: one row per placed piece. The BFD composition is
    solved driver-side on the bounded length histogram; the driver row
    is hash-checked against ``_bfd_oracle_sql()``, which replays that
    solve as a single-row recursive-CTE state machine over the same
    histogram. pytest carries further checks (full python-twin
    assignment equality, bin validity, ≤1.15× fractional lower bound,
    layout invariance — tests/test_tokens.py)."""
    from .operators.tokens import pack_sequences_bestfit

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = pack_sequences_bestfit(rendered_docs(spark, sf_dir), max_len=PACK_MAX_LEN)
    return out.select(
        "doc_id",
        F.col("chunk_no").cast("int").alias("chunk_no"),
        F.col("tok_off").cast("bigint").alias("tok_off"),
        F.col("length").cast("bigint").alias("length"),
        F.col("bin_id").cast("bigint").alias("bin_id"),
        F.col("bin_off").cast("bigint").alias("bin_off"),
    )


def _bpe_train_oracle_sql(num_merges: int = 8, min_freq: int = 2, wp_merges: int = 4) -> str:
    """DuckDB twin of ``q_tokens_bpe_train``: the merge loop unrolled to
    ``num_merges`` chained CTE rounds — each round one pair-count
    group-by (winner = max count, ties to smallest (left, right)), one
    greedy left-to-right rewrite expressed relationally (kept match
    starts become the fresh id, the slot after each kept start drops;
    the only overlap case, left == right runs like ``aaa``, resolves by
    run parity: a match is kept iff its offset from the run start is
    even — exactly the textbook greedy scan). new_id numbering restarts
    from max(corpus token) + 1, as the operator does. A round whose best
    pair falls under ``min_freq`` emits no row and leaves the corpus
    unchanged, matching the trainer's break.

    The WordPiece leg (``wp_merges`` rounds, algo='wordpiece') chains
    the SAME rewrite CTEs from a fresh copy of the corpus, but elects
    each round's winner by the likelihood score n/(n_left·n_right):
    the argmax over a fraction is restated as a NOT-EXISTS anti-join
    with HUGEINT cross-multiplication (y beats x iff
    y.n·x.lc·x.rc > x.n·y.lc·y.rc, ties to the smaller (left, right))
    — exact integer arithmetic end to end, mirroring the operator's
    Fraction-resolved driver election."""
    parts = [
        f"WITH {_SQL_DOCS.strip()},",
        """t0 AS MATERIALIZED (
  SELECT doc_id, CAST(u.i AS BIGINT) AS rn, unicode(substr(line, CAST(u.i AS INT), 1)) AS tok
  FROM docs, unnest(generate_series(1, length(line))) AS u(i)
),
base AS (SELECT max(tok) AS mx FROM t0)""",
    ]
    for r in range(num_merges):
        parts.append(f""",
p{r} AS MATERIALIZED (
  SELECT a.tok AS l, b.tok AS r2, CAST(count(*) AS BIGINT) AS n
  FROM t{r} a JOIN t{r} b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1
  GROUP BY 1, 2
),
w{r} AS MATERIALIZED (SELECT l, r2, n FROM p{r} WHERE n >= {min_freq} ORDER BY n DESC, l, r2 LIMIT 1),
rs{r} AS MATERIALIZED (
  SELECT doc_id, rn, min(rn) OVER (PARTITION BY doc_id, isl) AS run_start
  FROM (
    SELECT t.doc_id, t.rn,
           t.rn - row_number() OVER (PARTITION BY t.doc_id ORDER BY t.rn) AS isl
    FROM t{r} t, w{r} w WHERE t.tok = w.l
  )
),
m{r} AS MATERIALIZED (
  SELECT a.doc_id, a.rn
  FROM t{r} a
  JOIN t{r} b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1
  JOIN rs{r} s ON s.doc_id = a.doc_id AND s.rn = a.rn
  CROSS JOIN w{r} w
  WHERE a.tok = w.l AND b.tok = w.r2
    AND (w.l <> w.r2 OR (a.rn - s.run_start) % 2 = 0)
),
t{r + 1} AS MATERIALIZED (
  SELECT t.doc_id,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY t.rn) AS rn,
         CASE WHEN k.rn IS NOT NULL THEN (SELECT mx FROM base) + 1 + {r} ELSE t.tok END AS tok
  FROM t{r} t
  LEFT JOIN m{r} k ON k.doc_id = t.doc_id AND k.rn = t.rn
  LEFT JOIN m{r} d ON d.doc_id = t.doc_id AND d.rn = t.rn - 1
  WHERE d.rn IS NULL
)""")
    parts.append(",\nwt0 AS MATERIALIZED (SELECT * FROM t0)")
    for r in range(wp_merges):
        parts.append(f""",
wu{r} AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM wt{r} GROUP BY 1
),
wsc{r} AS MATERIALIZED (
  SELECT p.l, p.r2, p.n, ul.c AS lc, ur.c AS rc
  FROM (
    SELECT a.tok AS l, b.tok AS r2, CAST(count(*) AS BIGINT) AS n
    FROM wt{r} a JOIN wt{r} b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1
    GROUP BY 1, 2
  ) p
  JOIN wu{r} ul ON ul.tok = p.l
  JOIN wu{r} ur ON ur.tok = p.r2
  WHERE p.n >= {min_freq}
),
ww{r} AS MATERIALIZED (
  SELECT l, r2, n FROM wsc{r} x
  WHERE NOT EXISTS (
    SELECT 1 FROM wsc{r} y
    WHERE CAST(y.n AS HUGEINT) * x.lc * x.rc > CAST(x.n AS HUGEINT) * y.lc * y.rc
       OR (CAST(y.n AS HUGEINT) * x.lc * x.rc = CAST(x.n AS HUGEINT) * y.lc * y.rc
           AND (y.l < x.l OR (y.l = x.l AND y.r2 < x.r2)))
  )
),
wrs{r} AS MATERIALIZED (
  SELECT doc_id, rn, min(rn) OVER (PARTITION BY doc_id, isl) AS run_start
  FROM (
    SELECT t.doc_id, t.rn,
           t.rn - row_number() OVER (PARTITION BY t.doc_id ORDER BY t.rn) AS isl
    FROM wt{r} t, ww{r} w WHERE t.tok = w.l
  )
),
wm{r} AS MATERIALIZED (
  SELECT a.doc_id, a.rn
  FROM wt{r} a
  JOIN wt{r} b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1
  JOIN wrs{r} s ON s.doc_id = a.doc_id AND s.rn = a.rn
  CROSS JOIN ww{r} w
  WHERE a.tok = w.l AND b.tok = w.r2
    AND (w.l <> w.r2 OR (a.rn - s.run_start) % 2 = 0)
),
wt{r + 1} AS MATERIALIZED (
  SELECT t.doc_id,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY t.rn) AS rn,
         CASE WHEN k.rn IS NOT NULL THEN (SELECT mx FROM base) + 1 + {r} ELSE t.tok END AS tok
  FROM wt{r} t
  LEFT JOIN wm{r} k ON k.doc_id = t.doc_id AND k.rn = t.rn
  LEFT JOIN wm{r} d ON d.doc_id = t.doc_id AND d.rn = t.rn - 1
  WHERE d.rn IS NULL
)""")
    selects = [
        f"""SELECT 'bpe' AS algo, CAST({r} AS INT) AS merge_no, CAST(l AS INT) AS "left",
       CAST(r2 AS INT) AS "right",
       CAST((SELECT mx FROM base) + 1 + {r} AS INT) AS new_id, n AS n_pairs
FROM w{r}"""
        for r in range(num_merges)
    ] + [
        f"""SELECT 'wordpiece' AS algo, CAST({r} AS INT) AS merge_no, CAST(l AS INT) AS "left",
       CAST(r2 AS INT) AS "right",
       CAST((SELECT mx FROM base) + 1 + {r} AS INT) AS new_id, n AS n_pairs
FROM ww{r}"""
        for r in range(wp_merges)
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def _bfd_oracle_sql(max_len: int = PACK_MAX_LEN) -> str:
    """DuckDB twin of ``q_tokens_pack_bestfit``: the driver-side BFD
    histogram solve re-expressed as a single-row recursive-CTE state
    machine (state = remaining (length, count) work list + the group
    table as a list of structs; one recursion step = one body of the
    solver's while loop, choosing the min-(cap, seq) candidate group
    via ``list_sort`` over (cap, seq) projections), then the identical
    integer rank→(bin, slot) arithmetic as window functions. Verified
    piece-for-piece against ``_bfd_compositions`` on random and
    adversarial histograms before wiring (multi-chunk docs included)."""
    return f"""
WITH RECURSIVE {_SQL_DOCS.strip()},
pieces AS (
  SELECT doc_id,
         CAST(u.c AS INTEGER) AS chunk_no,
         CAST(u.c * {max_len} AS BIGINT) AS tok_off,
         CAST(least({max_len}, length(line) - u.c * {max_len}) AS INTEGER) AS length
  FROM docs, unnest(generate_series(0, CAST(ceil(length(line) / {max_len}.0) AS INTEGER) - 1)) AS u(c)
  WHERE length(line) > 0
),
hist AS (SELECT length AS L, CAST(count(*) AS BIGINT) AS n FROM pieces GROUP BY 1),
solver(work, grps, seq) AS (
  SELECT (SELECT list(struct_pack(L := L, n := n) ORDER BY L DESC) FROM hist),
         CAST([] AS STRUCT(cap INTEGER, m BIGINT, comp STRUCT(L INTEGER, k INTEGER)[], seq INTEGER)[]),
         0
  UNION ALL
  SELECT
    CASE WHEN ch.cseq IS NULL OR w.n - tk.take = 0
         THEN work[2:]
         ELSE list_concat([struct_pack(L := w.L, n := w.n - tk.take)], work[2:]) END,
    CASE WHEN ch.cseq IS NULL
         THEN list_append(grps, struct_pack(
                cap := {max_len} - w.L, m := w.n,
                comp := [struct_pack(L := w.L, k := 1)], seq := seq))
         ELSE list_append(
                list_transform(grps, x -> CASE WHEN x.seq = ch.cseq
                  THEN struct_pack(cap := x.cap, m := x.m - tk.take, comp := x.comp, seq := x.seq)
                  ELSE x END),
                struct_pack(
                  cap := gg.g.cap - w.L, m := tk.take,
                  comp := CASE WHEN len(list_filter(gg.g.comp, c -> c.L = w.L)) > 0
                    THEN list_transform(gg.g.comp, c -> CASE WHEN c.L = w.L
                           THEN struct_pack(L := c.L, k := c.k + 1) ELSE c END)
                    ELSE list_append(gg.g.comp, struct_pack(L := w.L, k := 1)) END,
                  seq := seq)) END,
    seq + 1
  FROM solver,
  LATERAL (SELECT work[1].L AS L, work[1].n AS n) AS w,
  LATERAL (SELECT list_filter(grps, g -> g.m > 0 AND g.cap >= w.L) AS cands) AS c,
  LATERAL (SELECT CASE WHEN len(c.cands) = 0 THEN NULL
                  ELSE list_sort(list_transform(c.cands, g -> struct_pack(cap := g.cap, seq := g.seq)))[1].seq
                  END AS cseq) AS ch,
  LATERAL (SELECT CASE WHEN ch.cseq IS NULL THEN NULL
                  ELSE list_filter(grps, x -> x.seq = ch.cseq)[1] END AS g) AS gg,
  LATERAL (SELECT CASE WHEN gg.g IS NULL THEN CAST(NULL AS BIGINT)
                  ELSE least(w.n, gg.g.m) END AS take) AS tk
  WHERE len(work) > 0
),
final AS (SELECT grps FROM solver WHERE len(work) = 0),
fg AS (
  SELECT g.cap AS cap, g.m AS m, g.comp AS comp, g.seq AS seq
  FROM (SELECT unnest(grps) AS g FROM final)
  WHERE g.m > 0
),
binb AS (
  SELECT seq, m, comp,
         COALESCE(sum(m) OVER (ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bin_base
  FROM fg
),
flat AS (
  SELECT seq, m, bin_base, c.L AS L, c.k AS k
  FROM (SELECT seq, m, bin_base, unnest(comp) AS c FROM binb)
),
based AS (
  SELECT *, COALESCE(sum(m * k) OVER (PARTITION BY L ORDER BY seq
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
  FROM flat
),
slotted AS (
  SELECT *, COALESCE(sum(k * L) OVER (PARTITION BY seq ORDER BY L DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS slot_base
  FROM based
),
ranked AS (
  SELECT doc_id, chunk_no, tok_off, length,
         row_number() OVER (PARTITION BY length
           ORDER BY doc_id || '#' || CAST(chunk_no AS VARCHAR)) - 1 AS r
  FROM pieces
)
SELECT p.doc_id, p.chunk_no, p.tok_off,
       CAST(p.length AS BIGINT) AS length,
       CAST(s.bin_base + (p.r - s.base) // s.k AS BIGINT) AS bin_id,
       CAST(s.slot_base + ((p.r - s.base) % s.k) * p.length AS BIGINT) AS bin_off
FROM ranked p
JOIN slotted s ON s.L = p.length AND p.r >= s.base AND p.r < s.base + s.m * s.k
"""


QUERIES = {
    "tokens_pack": q_tokens_pack,
    "tokens_vocab": q_tokens_vocab,
    "tokens_mixture": q_tokens_mixture,
    "tokens_bpe_pairs": q_tokens_bpe_pairs,
    "tokens_assemble": q_tokens_assemble,
    "tokens_bigram_lm": q_tokens_bigram_lm,
    "tokens_fim": q_tokens_fim,
    "tokens_bpe_train": q_tokens_bpe_train,
    "tokens_pack_bestfit": q_tokens_pack_bestfit,
    "stream_tokens_pack": q_stream_tokens_pack,
}

ORACLES = {
    "tokens_pack": SQL_TOKENS_PACK,
    "tokens_vocab": SQL_TOKENS_VOCAB,
    "tokens_mixture": SQL_TOKENS_MIXTURE,
    "tokens_bpe_pairs": SQL_TOKENS_BPE_PAIRS,
    "tokens_assemble": SQL_TOKENS_ASSEMBLE,
    "tokens_bigram_lm": SQL_TOKENS_BIGRAM_LM,
    "tokens_fim": SQL_TOKENS_FIM,
    "tokens_bpe_train": _bpe_train_oracle_sql(num_merges=8, min_freq=2),
    "tokens_pack_bestfit": _bfd_oracle_sql(),
    "stream_tokens_pack": SQL_TOKENS_PACK,
}
