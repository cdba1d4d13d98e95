"""Driver-contract queries for the training-data operators (dedup,
similarity search, text analysis, multimodal) over the ``documents`` and
``embeddings`` tables, each with a DuckDB oracle.

The synthetic corpus has no near-duplicates, so the dedup queries
self-seed them: both the Spark side and the SQL oracle extend the corpus
with (a) exact copies of docs 0-24 and (b) tail-mutated copies of docs
25-49 — identical string operations on both sides, so expected pairs are
derivable in pure SQL.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import (
    duplicate_substring_spans,
    exact_dedup_groups,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from .operators.similarity import cosine_dup_pairs, cosine_topk, cosine_topk_lsh
from .operators.textstats import (
    content_fingerprint,
    langid,
    quality_stats,
    token_counts,
)

MUT_TAIL = " zz extra tail tokens appended"

SQL_DOCS2 = f"""
docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 25
  UNION ALL SELECT doc_id + 200000 AS doc_id, text || '{MUT_TAIL}' AS text
    FROM documents WHERE doc_id >= 25 AND doc_id < 50
)
"""


def _docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # the test corpus is a handful of parquet files → 2-3 input splits,
    # which would starve the 32-thread Python stages downstream; restore
    # task parallelism up front (a no-op concern at real scale, where the
    # input splits already saturate the executors)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    exact = d.filter(F.col("doc_id") < 25).select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    near = d.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 50)).select(
        (F.col("doc_id") + 200000).alias("doc_id"), F.concat(F.col("text"), F.lit(MUT_TAIL)).alias("text")
    )
    return d.unionByName(exact).unionByName(near)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# docs3: the substring-dedup corpus. The base corpus's only cross-doc
# duplication is whole-doc replicas, which would never exercise span
# merging — so docs 50-74 (those long enough) each donate a SPLICE doc:
# their first 30 words, a doc-unique separator word, then their words
# 31-60. The splice doc gets TWO maximal spans (the separator's k-gram
# neighborhood is unique), and the donor doc gets partial spans instead
# of a whole-doc one. Identical string algebra on both engines.
SQL_DOCS3 = """
docs3 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000 AS doc_id,
         array_to_string(ws[1:30], ' ') || ' uniqsep' || doc_id || ' ' ||
         array_to_string(ws[31:60], ' ') AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  WHERE len(ws) >= 61 AND doc_id >= 50 AND doc_id < 75
)
"""


def _docs3(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    w = F.split(F.col("text"), " ")
    splice = (
        d.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 75) & (F.size(w) >= 61))
        .select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat(
                F.array_join(F.slice(w, 1, 30), " "),
                F.lit(" uniqsep"),
                F.col("doc_id").cast("string"),
                F.lit(" "),
                F.array_join(F.slice(w, 31, 30), " "),
            ).alias("text"),
        )
    )
    return d.unionByName(splice)


def _embs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dup = e.filter(F.col("vec_id") < 10).select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    return e.unionByName(dup)


SQL_EMBS2 = """
embs2 AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10
)
"""


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups over the seeded corpus UNIONED with
    delta-vs-base new-doc extraction (r4.5 absorption; kernels tagged
    by ``kind``): the docs2 extension rows replay as a crawl increment
    against the base documents — exact copies drop, tail-mutated docs
    survive. Bloom mode runs under the gate (correctness is
    bloom-independent; the saturated-bloom path is pytest-covered)."""
    from .operators.dedup import delta_dedup_new_docs

    d2 = _docs2(spark, sf_dir)
    groups = exact_dedup_groups(d2).select(
        F.lit("groups").alias("kind"), "keeper", "n_copies", "fp"
    )
    new = delta_dedup_new_docs(
        d2.filter(F.col("doc_id") >= 100000),
        d2.filter(F.col("doc_id") < 100000),
        mode="bloom",
    ).select(
        F.lit("delta_new").alias("kind"),
        F.col("doc_id").alias("keeper"),
        F.lit(None).cast("bigint").alias("n_copies"),
        "fp",
    )
    return groups.unionByName(new)


SQL_DEDUP_EXACT = f"""
WITH {SQL_DOCS2}
SELECT 'groups' AS kind, min(doc_id) AS keeper, count(*) AS n_copies, md5(text) AS fp
FROM docs2 GROUP BY text
UNION ALL
SELECT 'delta_new' AS kind, doc_id AS keeper, CAST(NULL AS BIGINT) AS n_copies,
       md5(text) AS fp
FROM docs2 WHERE doc_id >= 100000
  AND text NOT IN (SELECT text FROM docs2 WHERE doc_id < 100000)
"""


# C4 span-dedup corpus: the documents table re-chunked into 6-word
# LINES (the sentence analogue for log corpora) with a shared 3-line
# block spliced in front of docs ≡3 (mod 7) and behind docs ≡5 (mod 11)
# — docs hitting both get a within-doc duplicate. Identical string
# algebra on both engines.
_C4_BLOCK_LINES = ["c4dup alpha block", "c4dup beta block", "c4dup gamma block"]
_C4_BLOCK = "\n".join(_C4_BLOCK_LINES)


def _docs_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    ws = F.filter(F.split("text", " "), lambda x: F.length(x) > 0)
    nl = F.floor((F.size(ws) + F.lit(5)) / 6).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.array_join(F.slice(ws, i * 6 + 1, 6), " "),
    )
    base = F.when(F.size(ws) > 0, F.array_join(lines, "\n")).otherwise(F.lit(""))
    with_pre = F.when(
        F.col("doc_id") % 7 == 3, F.concat(F.lit(_C4_BLOCK + "\n"), base)
    ).otherwise(base)
    with_post = F.when(
        F.col("doc_id") % 11 == 5, F.concat(with_pre, F.lit("\n" + _C4_BLOCK))
    ).otherwise(with_pre)
    return d.select("doc_id", with_post.alias("text"))


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated spans (Lee et al. 2021) at the word
    10-gram grain over the splice-seeded corpus — one row per maximal
    duplicated span — UNIONED with C4-style keep-first span dedup
    (Raffel et al. 2020) at the line-triple grain over the
    block-spliced corpus (r4.5 absorption; kernels tagged by ``kind``,
    clean text verified by md5)."""
    from .operators.curation import span_dedup_keep_first

    substr = duplicate_substring_spans(_docs3(spark, sf_dir), k=10).select(
        F.lit("substr").alias("kind"),
        "doc_id",
        "span_start",
        "span_end",
        "dup_words",
        F.lit(None).cast("bigint").alias("n_units"),
        F.lit(None).cast("bigint").alias("n_dup_spans"),
        F.lit(None).cast("bigint").alias("n_removed_units"),
        F.lit(None).cast("string").alias("clean_md5"),
    )
    c4 = span_dedup_keep_first(_docs_c4(spark, sf_dir), span=3).select(
        F.lit("c4").alias("kind"),
        "doc_id",
        F.lit(None).cast("bigint").alias("span_start"),
        F.lit(None).cast("bigint").alias("span_end"),
        F.lit(None).cast("bigint").alias("dup_words"),
        "n_units",
        "n_dup_spans",
        "n_removed_units",
        F.md5("clean_text").alias("clean_md5"),
    )
    return substr.unionByName(c4)


_SUBSTR_K = 10
_SUBSTR_GRAM = " || ' ' || ".join(f"ws[x+{i}]" for i in range(_SUBSTR_K))
SQL_DEDUP_SUBSTRING = f"""
WITH {SQL_DOCS3},
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM docs3),
grams AS (
  SELECT doc_id, x - 1 AS pos, {_SUBSTR_GRAM} AS g
  FROM w, unnest(generate_series(1, len(ws) - {_SUBSTR_K} + 1)) AS t(x)
  WHERE len(ws) >= {_SUBSTR_K}
),
dupg AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
dp AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dupg)),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {_SUBSTR_K}
         THEN 0 ELSE 1 END AS newi
  FROM dp
),
isl2 AS (
  SELECT doc_id, pos, sum(newi) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
docsc4 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 3 THEN {{_C4B}} || chr(10) ELSE '' END
    || base
    || CASE WHEN doc_id % 11 = 5 THEN chr(10) || {{_C4B}} ELSE '' END AS text
  FROM (
    SELECT doc_id,
      CASE WHEN len(ws) > 0 THEN
        array_to_string(
          list_transform(generate_series(0, (len(ws) + 5) // 6 - 1),
                         i -> array_to_string(ws[i*6+1:i*6+6], ' ')),
          chr(10))
      ELSE '' END AS base
    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
          FROM documents)
  )
),
u AS (SELECT doc_id, string_split(text, chr(10)) AS us FROM docsc4),
sp AS (
  SELECT doc_id, i AS pos,
    CAST('0x' || substr(md5(array_to_string(us[i+1:i+3], chr(10))), 1, 15) AS BIGINT) AS h
  FROM u, unnest(generate_series(0, len(us) - 3)) AS t(i)
  WHERE len(us) >= 3
),
kc AS (
  SELECT doc_id, pos,
    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
    count(*) OVER (PARTITION BY h) AS cnt
  FROM sp
),
dupst AS (SELECT doc_id, pos FROM kc WHERE cnt > 1 AND rn > 1),
remu AS (SELECT DISTINCT doc_id, pos + g.k AS j
         FROM dupst, unnest(generate_series(0, 2)) AS g(k)),
remcnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM remu GROUP BY 1),
ndupc4 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup FROM dupst GROUP BY 1),
ux AS (SELECT doc_id, x - 1 AS j, us[x] AS unit
       FROM u, unnest(generate_series(1, len(us))) AS t(x)),
kept AS (
  SELECT ux.doc_id, ux.j, ux.unit
  FROM ux LEFT JOIN remu ON ux.doc_id = remu.doc_id AND ux.j = remu.j
  WHERE remu.j IS NULL
),
cln AS (SELECT doc_id, string_agg(unit, chr(10) ORDER BY j) AS clean_text
        FROM kept GROUP BY 1)
SELECT 'substr' AS kind, doc_id,
  CAST(min(pos) AS BIGINT) AS span_start,
  CAST(max(pos) + {_SUBSTR_K} - 1 AS BIGINT) AS span_end,
  CAST(max(pos) - min(pos) + {_SUBSTR_K} AS BIGINT) AS dup_words,
  CAST(NULL AS BIGINT) AS n_units,
  CAST(NULL AS BIGINT) AS n_dup_spans,
  CAST(NULL AS BIGINT) AS n_removed_units,
  CAST(NULL AS VARCHAR) AS clean_md5
FROM isl2 GROUP BY doc_id, island
UNION ALL
SELECT 'c4' AS kind, u.doc_id,
  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
  CAST(len(u.us) AS BIGINT),
  CAST(coalesce(nd.n_dup, 0) AS BIGINT),
  CAST(coalesce(rc.n_removed, 0) AS BIGINT),
  md5(coalesce(cl.clean_text, ''))
FROM u
LEFT JOIN ndupc4 nd USING (doc_id)
LEFT JOIN remcnt rc USING (doc_id)
LEFT JOIN cln cl USING (doc_id)
""".replace("{_C4B}", " || chr(10) || ".join(f"'{l}'" for l in _C4_BLOCK_LINES))


_SQL_JACCARD_BODY = f"""
WITH {SQL_DOCS2},
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM docs2),
grams AS (
  SELECT DISTINCT doc_id, ws[x] || ' ' || ws[x+1] || ' ' || ws[x+2] AS g
  FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS t(x)
  WHERE len(ws) >= 3
),
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
rare AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 50),
gr AS (SELECT doc_id, g FROM grams WHERE g IN (SELECT g FROM rare)),
inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
  FROM gr l JOIN gr r ON l.g = r.g AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT i.a, i.b, round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 4) AS j
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a
JOIN sizes sb ON sb.doc_id = i.b
WHERE round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 4) >= 0.6
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs2(spark, sf_dir), threshold=0.6, max_df=50)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the near-dup pair graph: every doc labeled
    with its duplicate-cluster id (min reachable doc_id) + cluster size
    — the keep/drop decision surface a curation pipeline actually needs
    (pairs alone don't compose: A~B, B~C must collapse to ONE keeper).
    Runs the SAME pointer-jumping closure over BOTH candidate graphs in
    one driver row (r4 registry consolidation — absorbs the former
    ``embed_dedup_components``): the text n-gram Jaccard graph and the
    embedding cosine near-dup graph, union-tagged by ``graph``.
    UPGRADED with the leakage-safe train/valid/test ``split`` column
    (``curation.leakage_safe_splits``): the split key is the cluster of
    the UNION graph (text edges ∪ embed edges → one closure), so a
    document gets ONE split label that is leakage-safe under BOTH
    similarity definitions — per-graph keys would let the same doc (or
    two near-duplicates) carry conflicting labels across the two graph
    views (review r4.3). Oracle = the SAME pair SQLs + recursive CTE
    closures, plus a third recursive closure over the unioned pairs for
    the split, with the same md5-bucket CASE."""
    from .operators.curation import leakage_safe_splits
    from .operators.dedup import connected_components

    # each pair generator feeds TWO closures (its own graph + the union
    # split graph) — materialize once so jaccard/cosine don't run twice
    text_pairs = ngram_jaccard_pairs(
        _docs2(spark, sf_dir), threshold=0.6, max_df=50
    ).localCheckpoint(eager=False)
    text_cc = connected_components(text_pairs).select(
        F.lit("text").alias("graph"),
        F.col("node").cast("long").alias("node_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )
    emb_pairs = cosine_dup_pairs(_embs2(spark, sf_dir), threshold=0.99).localCheckpoint(
        eager=False
    )
    emb_cc = connected_components(emb_pairs).select(
        F.lit("embed").alias("graph"),
        F.col("node").cast("long").alias("node_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )
    upairs = (
        text_pairs.select(F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b"))
        .unionByName(
            emb_pairs.select(F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b"))
        )
    )
    usplit = leakage_safe_splits(
        connected_components(upairs).select(
            F.col("node").cast("long").alias("node_id"), F.col("cluster_id").alias("_ucl")
        ),
        cluster_col="_ucl",
    ).select("node_id", "split")
    cc = text_cc.unionByName(emb_cc)
    return cc.join(usplit, "node_id").select(
        "graph", "node_id", "cluster_id", "cluster_size", "split"
    )


SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({_SQL_JACCARD_BODY}),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
),
labels AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT node AS doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labels
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned near-dup pairs, verified with exact Jaccard — output
    contract equals the exhaustive query, cost does not."""
    return minhash_lsh_dedup_pairs(_docs2(spark, sf_dir), threshold=0.6)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming ≤ 3 pairs. The simhash is md5-60-bit based
    (operators/dedup.py:word_hashes_col) precisely so the whole operator
    — word hash, bit-majority, 4×15-bit banding, popcount verify — is
    reproducible in the DuckDB oracle below, bit for bit."""
    return simhash_pairs(_docs2(spark, sf_dir), max_hamming=3)


SQL_DEDUP_SIMHASH = f"""
WITH {SQL_DOCS2},
w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM docs2),
h AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS hw FROM w),
bits AS (
  SELECT doc_id, b, SUM(CASE WHEN (hw >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) AS bs
  GROUP BY doc_id, b
),
sh AS (
  SELECT doc_id, SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sh
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, sh, band, (sh >> (band * 15)) & 32767 AS key
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) AS bb
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.sh AS sha, r.sh AS shb
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
)
SELECT a, b, bit_count(xor(sha, shb)) AS hamming
FROM cand WHERE bit_count(xor(sha, shb)) <= 3
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------
CLF_BUCKETS = 4096


def _clf_weights(spark: SparkSession) -> DataFrame:
    """Deterministic integer-valued weight table for the classifier
    driver row: weight(b) = md5('qw:'||b)-bucket in [-1000, 1000].
    Integer-valued so the per-doc sum is exact under ANY aggregation
    order — the cross-engine-determinism discipline of
    ``sample_to_mixture`` (a real deployment would load a trained
    table here; the operator contract is identical)."""
    b = F.col("id").cast("int")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("qw:"), b.cast("string"))), 1, 8), 16, 10
    ).cast("long")
    return spark.range(CLF_BUCKETS).select(
        b.alias("b"), ((h % 2001) - 1000).cast("double").alias("weight")
    )


BW_BLOCKLIST = ("dup", "slow")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + token counting + language-ID + content
    fingerprint + hashed-linear classifier score + C4 bad-word filter
    in ONE query (registry consolidation — r3 absorbed the former
    ``text_token_count``, r4 absorbed ``text_langid`` to make room for
    ``dedup_substring``, ``doc_fingerprint`` to make room for
    ``docs_shuffle``, and gained the
    ``curation.quality_classifier_score`` columns; r5 absorbed
    ``curation.badwords_filter`` — the C4 §2.2 any-blocked-word page
    drop, seeded blocklist shared verbatim by both faces): all six are
    per-doc pipelines over ``documents``, joined on doc_id. The
    classifier weights are deterministic md5-derived integers so the
    DuckDB twin rebuilds the identical table from first principles."""
    from .operators.curation import badwords_filter, quality_classifier_score

    d = _docs(spark, sf_dir)
    clf = quality_classifier_score(
        d, _clf_weights(spark), n_buckets=CLF_BUCKETS
    ).select("doc_id", "clf_logit", "clf_score", "clf_keep")
    bw = badwords_filter(d, list(BW_BLOCKLIST))
    return (
        quality_stats(d)
        .join(token_counts(d), "doc_id")
        .join(langid(d), "doc_id")
        .join(content_fingerprint(d), "doc_id")
        # LEFT: the classifier emits no row for zero-word docs (no
        # features → no evidence); the per-doc contract of this query
        # keeps such docs with NULL clf columns, same as the SQL twin
        .join(clf, "doc_id", "left")
        .join(bw, "doc_id")
    )


SQL_TEXT_QUALITY = f"""
WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
cls_w AS (
  SELECT b, CAST((CAST('0x' || substr(md5('qw:' || CAST(b AS VARCHAR)), 1, 8) AS BIGINT) % 2001) - 1000 AS DOUBLE) AS weight
  FROM (SELECT unnest(generate_series(0, {CLF_BUCKETS - 1})) AS b)
),
cls_t AS (
  SELECT doc_id, CAST('0x' || substr(md5(tw), 1, 8) AS BIGINT) % {CLF_BUCKETS} AS b
  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS tw
        FROM documents)
),
cls AS (
  SELECT t.doc_id, round(sum(weight) / count(*), 4) AS clf_logit
  FROM cls_t t JOIN cls_w USING (b) GROUP BY t.doc_id
),
cls2 AS (
  SELECT doc_id, clf_logit,
         round(1.0 / (1.0 + exp(-clf_logit)), 4) AS clf_score,
         CAST(clf_logit > 0 AS INT) AS clf_keep
  FROM cls
)
SELECT doc_id,
  length(text) AS n_chars,
  len(ws) AS n_words,
  round(list_sum(list_transform(ws, x -> length(x))) * 1.0 / len(ws), 4) AS avg_word_len,
  round(len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is','it'))) * 1.0 / len(ws), 4) AS stop_ratio,
  CASE WHEN length(text) > 0
       THEN round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) * 1.0 / length(text), 4)
       END AS punct_ratio,
  CASE WHEN len(ws) >= 10
        AND round(list_sum(list_transform(ws, x -> length(x))) * 1.0 / len(ws), 4) >= 2.0
        AND round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) * 1.0 / length(text), 4) <= 0.2
       THEN 1 ELSE 0 END AS keep,
  len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens,
  round(len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is','it'))) * 1.0 / len(ws), 4) AS en_score,
  CASE WHEN round(len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is','it'))) * 1.0 / len(ws), 4) > 0.02
       THEN 'en' ELSE 'unk' END AS predicted_lang,
  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
  length(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_len,
  c.clf_logit, c.clf_score, c.clf_keep,
  CAST(len(bw.bwl) AS BIGINT) AS bw_hits,
  CAST(len(list_distinct(bw.bwl)) AS BIGINT) AS bw_distinct,
  CAST(len(bw.bwl) = 0 AS INT) AS bw_keep
FROM w LEFT JOIN cls2 c USING (doc_id)
CROSS JOIN LATERAL (
  SELECT list_filter(
           list_transform(
             string_split_regex(lower(text), '\\s+'),
             x -> regexp_replace(x, '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')),
           x -> length(x) > 0 AND x IN {BW_BLOCKLIST!r}) AS bwl
) AS bw
"""


def q_docs_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic resume-stable global training-order shuffle
    (``tokens.global_shuffle``): every doc ranked by md5('s4:'||doc_id).
    The oracle recomputes the full permutation with a plain row_number
    window — verifying the engine's range-partition + frozen-pid rank
    attach against the single-window definition, the same two-phase
    machinery the k-way merge rank uses (merge.with_global_rank).

    UNIONED (r5 absorption, kind='zorder') with the Morton layout key
    over the events stream — the data-layout sibling operator
    (operators/zorder.py): z = interleave(day-since-2024-01-01, md5
    bucket of user_id), 8 bits each. The oracle restates the bit
    interleave as 16 explicit shift/mask terms in SQL — every bit of
    every row's layout key is hash-checked. (The pruning WIN the key
    buys is execution-truth-tested from written parquet footers in
    tests/test_zorder.py; a permutation and a space-filling-curve key
    are the two layout primitives a 100-TB table rewrite needs.)"""
    from .operators.tokens import global_shuffle
    from .operators.zorder import day_code, hash_bucket, z_value

    d = _docs(spark, sf_dir).select("doc_id")
    shuffled = global_shuffle(d, seed="s4").select(
        F.lit("shuffle").alias("kind"),
        F.col("doc_id"),
        F.col("shuffle_rank"),
        F.lit(None).cast("bigint").alias("z"),
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    zed = ev.select(
        F.lit("zorder").alias("kind"),
        F.col("event_id").cast("string").alias("doc_id"),
        F.lit(None).cast("bigint").alias("shuffle_rank"),
        z_value(
            [day_code("ts", "2024-01-01", 8), hash_bucket("user_id", 8, salt="z:")], 8
        ).alias("z"),
    )
    return shuffled.unionByName(zed)


SQL_DOCS_SHUFFLE = """
WITH codes AS (
  SELECT CAST(event_id AS VARCHAR) AS doc_id,
         least(greatest(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)), 0), 255) AS d,
         CAST('0x' || substr(md5('z:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS b
  FROM events
)
SELECT 'shuffle' AS kind, doc_id,
       CAST(row_number() OVER (ORDER BY md5('s4:' || CAST(doc_id AS VARCHAR)), doc_id)
            - 1 AS BIGINT) AS shuffle_rank,
       CAST(NULL AS BIGINT) AS z
FROM documents
UNION ALL
SELECT 'zorder', doc_id, CAST(NULL AS BIGINT),
       (((d >> 0) & 1) << 0) | (((b >> 0) & 1) << 1)
     | (((d >> 1) & 1) << 2) | (((b >> 1) & 1) << 3)
     | (((d >> 2) & 1) << 4) | (((b >> 2) & 1) << 5)
     | (((d >> 3) & 1) << 6) | (((b >> 3) & 1) << 7)
     | (((d >> 4) & 1) << 8) | (((b >> 4) & 1) << 9)
     | (((d >> 5) & 1) << 10) | (((b >> 5) & 1) << 11)
     | (((d >> 6) & 1) << 12) | (((b >> 6) & 1) << 13)
     | (((d >> 7) & 1) << 14) | (((b >> 7) & 1) << 15) AS z
FROM codes
"""


# BM25 demo query set for the driver row: a bounded keyword-query table
# (the grep-shaped use of the reference searcher, lifted to ranked
# retrieval). One query carries a term absent from the corpus vocabulary
# so the partial-match path is under the gate. Shared verbatim by the
# Spark side and the generated SQL twin.
BM25_DEMO_QUERIES = [
    ("q1", "spark window agg"),
    ("q2", "customer join filter"),
    ("q3", "slow merge"),
    ("q4", "zzqmissing vector"),
]
_BM25_K1, _BM25_B = 1.2, 0.75


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 tf-idf terms (smoothed idf, deterministic
    tie-break) UNIONED with BM25 keyword retrieval over a bounded demo
    query set (r4.5 absorption — registry stays at the 50-row cap);
    kernels tagged by ``kind``, scores rounded to 4 decimals so ln()
    matches across engines."""
    from .operators.textstats import bm25_topk, tfidf_top_terms

    docs = _docs(spark, sf_dir)
    tfidf = tfidf_top_terms(docs, k=5).select(
        F.lit("tfidf").alias("kind"),
        F.col("doc_id").cast("string").alias("id"),
        "rank",
        F.col("term").alias("item"),
        "tf",
        "doc_freq",
        F.lit(None).cast("bigint").alias("n_terms"),
        "score",
    )
    qdf = spark.createDataFrame(BM25_DEMO_QUERIES, "query_id string, query string")
    bm = bm25_topk(docs, qdf, k=5, k1=_BM25_K1, b=_BM25_B).select(
        F.lit("bm25").alias("kind"),
        F.col("query_id").alias("id"),
        "rank",
        F.col("doc_id").cast("string").alias("item"),
        F.lit(None).cast("bigint").alias("tf"),
        F.lit(None).cast("bigint").alias("doc_freq"),
        "n_terms",
        "score",
    )
    return tfidf.unionByName(bm)


_BM25_VALUES = ", ".join(f"('{qid}', '{q}')" for qid, q in BM25_DEMO_QUERIES)

SQL_TEXT_TFIDF = f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
w2 AS (SELECT doc_id, term FROM w WHERE length(term) > 0),
tf AS (SELECT doc_id, term, count(*) AS tf FROM w2 GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 4) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
q(query_id, query) AS (VALUES {_BM25_VALUES}),
qt AS (
  SELECT DISTINCT query_id, t.term
  FROM q, unnest(string_split(query, ' ')) AS t(term)
  WHERE length(t.term) > 0
),
base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
  FROM documents
),
stats AS (SELECT count(*) AS n, avg(len(ws)) AS avgdl FROM base),
dterms AS (SELECT doc_id, len(ws) AS dl, t.term FROM base, unnest(ws) AS t(term)),
btf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM dterms WHERE term IN (SELECT DISTINCT term FROM qt)
  GROUP BY 1, 2
),
bdf AS (SELECT term, count(*) AS df FROM btf GROUP BY 1),
bscored AS (
  SELECT qt.query_id, btf.doc_id,
         round(sum(
           ln(1.0 + (s.n - bdf.df + 0.5) / (bdf.df + 0.5))
           * btf.tf * ({_BM25_K1} + 1.0)
           / (btf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * btf.dl / s.avgdl))
         ), 4) AS score,
         CAST(count(*) AS BIGINT) AS n_terms
  FROM btf JOIN bdf USING (term) JOIN qt USING (term) CROSS JOIN stats s
  GROUP BY 1, 2
),
branked AS (
  SELECT query_id, doc_id, n_terms, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM bscored
)
SELECT 'tfidf' AS kind, CAST(doc_id AS VARCHAR) AS id, rank, term AS item,
       tf, df AS doc_freq, CAST(NULL AS BIGINT) AS n_terms, score
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
) WHERE rank <= 5
UNION ALL
SELECT 'bm25' AS kind, query_id AS id, rank, CAST(doc_id AS VARCHAR) AS item,
       CAST(NULL AS BIGINT) AS tf, CAST(NULL AS BIGINT) AS doc_freq, n_terms, score
FROM branked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# similarity / ANN
# ---------------------------------------------------------------------------
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force AND sign-LSH ANN in one driver row (r4 registry
    consolidation — absorbs the former ``ann_cosine_topk_lsh``; both
    kernels stay hash-checked, union-tagged by ``method``)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    brute = (
        cosine_topk(e, q, k=5)
        .withColumn("rank", F.col("rank").cast("bigint"))
        .select(F.lit("brute").alias("method"), "query_id", "rank", "neighbor_id")
    )
    lsh = cosine_topk_lsh(e, q, k=5).select(
        F.lit("lsh").alias("method"),
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        "neighbor_id",
    )
    return brute.unionByName(lsh)


SQL_ANN_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
  FROM q CROSS JOIN c WHERE neighbor_id != query_id
)
SELECT query_id, rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= 5
"""


def _ann_lsh_oracle_sql(dim: int = 64, n_planes: int = 6, n_tables: int = 4, k: int = 5) -> str:
    """Build the DuckDB twin of cosine_topk_lsh: same plane tables (same
    seed), bucket = Σ sign·2^(p-1-i), bucket-join candidates, exact cosine
    rank. Plane literals are emitted at full float64 precision (%.17g) so
    both engines compute identical sign bits.

    Residual risk (ADVICE r2): %.17g round-trips every float64 exactly,
    but the two engines may SUM the dot product in different orders
    (numpy matmul is pairwise/SIMD; list_dot_product is sequential), so a
    plane dot within ~1 ulp of 0.0 could take different signs and bucket
    a vector differently — a spurious mismatch, not a correctness bug.
    With gaussian planes and these corpora the margin distribution makes
    that astronomically unlikely (measured min |plane dot| 1.2e-5 and min
    adjacent centroid-sim gap 4e-7 at sf0.1 — 10 orders above ulp scale);
    if it ever fires at another dim/corpus, the right fix is to exclude
    candidates whose |plane dot| < ε from BOTH sides or fall back to the
    recall-property test in tests/test_dataops.py, not to loosen the
    row-equality check globally."""
    from .operators.similarity import ann_tables

    tables = ann_tables(dim, n_planes, n_tables)

    def bucket_expr(vcol: str, planes) -> str:
        terms = []
        for i, row in enumerate(planes):
            lits = ", ".join("%.17g" % x for x in row)
            w = 1 << (n_planes - 1 - i)
            terms.append(
                f"CASE WHEN list_dot_product({vcol}, [{lits}]) >= 0 THEN {w} ELSE 0 END"
            )
        return " + ".join(terms)

    def side(name: str, idc: str, vcol: str, where: str) -> str:
        arms = [
            f"SELECT vec_id AS {idc}, embedding::DOUBLE[] AS {vcol}, {t} AS t, "
            f"{bucket_expr('embedding::DOUBLE[]', tables[t])} AS bk FROM embeddings{where}"
            for t in range(n_tables)
        ]
        return f"{name} AS (\n" + "\nUNION ALL ".join(arms) + "\n)"

    return f"""
WITH {side('cb', 'neighbor_id', 'cv', '')},
{side('qb', 'query_id', 'qv', ' WHERE vec_id < 10')},
cand AS (
  SELECT DISTINCT query_id, qv, neighbor_id, cv
  FROM cb JOIN qb USING (t, bk) WHERE neighbor_id != query_id
),
s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim FROM cand)
SELECT query_id, rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= {k}
"""


def q_ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (operators/similarity.cosine_topk_ivf):
    corpus partitioned into 16 inverted lists, queries probe their 4
    nearest lists. Deterministic seeded centroids let the DuckDB oracle
    replicate assignment + probe + exact rank with literal centroid
    arrays (see _ann_ivf_oracle_sql). UNIONED (r5 session 2, tagged by
    ``method``) with the PRODUCT-QUANTIZATION leg: seeded codebooks
    (`pq_codebooks`, m=4 ksub=8 over the 64-dim embeddings), map-only
    encode, ADC top-k — the oracle re-derives per-subspace assignment
    (row_number over list_distance with lowest-code tie-break) and the
    ADC distance as the SAME fixed parenthesized 4-term sum the engine
    uses, so equal-code-tuple neighbors tie EXACTLY in both engines and
    fall to the neighbor_id tie-break."""
    from .operators.similarity import (
        cosine_topk_ivf,
        pq_codebooks,
        pq_encode,
        pq_topk_adc,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    ivf = cosine_topk_ivf(e, q, k=5).select(
        F.lit("ivf").alias("method"),
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        "neighbor_id",
    )
    books = pq_codebooks(64, m=4, ksub=8)
    pq = pq_topk_adc(pq_encode(e, books), q, books, k=5).select(
        F.lit("pq").alias("method"),
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        "neighbor_id",
    )
    return ivf.unionByName(pq)


def _ann_ivf_oracle_sql(
    dim: int = 64, n_lists: int = 16, nprobe: int = 4, k: int = 5, m: int = 4, ksub: int = 8
) -> str:
    """DuckDB twin of cosine_topk_ivf (same seeded centroids) UNION the
    PQ/ADC leg (same seeded codebooks). The ADC distance is the engine's
    exact association ``((d0+d1)+d2)+d3`` written out literally — never a
    SQL SUM, whose row order would perturb equal-tuple ties by an ulp."""
    from .operators.similarity import ivf_centroids, pq_codebooks

    cents = ivf_centroids(dim, n_lists)
    rows = ",\n    ".join(
        "(" + str(i) + ", [" + ", ".join("%.17g" % x for x in cents[i]) + "]::DOUBLE[])"
        for i in range(n_lists)
    )
    books = pq_codebooks(dim, m=m, ksub=ksub)
    dsub = dim // m
    brows = ",\n    ".join(
        f"({j}, {c}, ["
        + ", ".join("%.17g" % x for x in books[j, c])
        + "]::DOUBLE[])"
        for j in range(m)
        for c in range(ksub)
    )
    qsub_cols = ", ".join(
        f"list_slice(v, {j * dsub + 1}, {(j + 1) * dsub}) AS sv{j}" for j in range(m)
    )
    code_cols = ", ".join(f"max(CASE WHEN j = {j} THEN c END) AS c{j}" for j in range(m))
    d_terms = [
        f"power(list_distance(qs.sv{j}, b{j}.bv), 2)" for j in range(m)
    ]
    adc_expr = d_terms[0]
    for t in d_terms[1:]:
        adc_expr = f"({adc_expr} + {t})"
    b_joins = "\n  ".join(
        f"JOIN books b{j} ON b{j}.j = {j} AND b{j}.c = p.c{j}" for j in range(m)
    )
    return f"""
WITH cents(cid, cv) AS (VALUES
    {rows}
),
books(j, c, bv) AS (VALUES
    {brows}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, c.cid, list_cosine_similarity(e.v, c.cv) AS sim
  FROM e CROSS JOIN cents c
),
cassign AS (SELECT vec_id, arg_max(cid, sim) AS list_id FROM sims GROUP BY vec_id),
qprobe AS (
  SELECT vec_id AS query_id, cid AS list_id FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM sims WHERE vec_id < 10
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT q.query_id, ca.vec_id AS neighbor_id
  FROM qprobe q JOIN cassign ca USING (list_id)
  WHERE ca.vec_id != q.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(eq.v, en.v) AS sim
  FROM cand c
  JOIN e eq ON eq.vec_id = c.query_id
  JOIN e en ON en.vec_id = c.neighbor_id
),
subs AS (
  SELECT e.vec_id, t.j,
         list_slice(e.v, t.j * {dsub} + 1, (t.j + 1) * {dsub}) AS sv
  FROM e CROSS JOIN range({m}) t(j)
),
passign AS (
  SELECT vec_id, j, c FROM (
    SELECT s.vec_id, s.j, b.c,
           row_number() OVER (PARTITION BY s.vec_id, s.j
                              ORDER BY list_distance(s.sv, b.bv), b.c) AS rn
    FROM subs s JOIN books b ON b.j = s.j
  ) WHERE rn = 1
),
pcodes AS (SELECT vec_id, {code_cols} FROM passign GROUP BY vec_id),
qs AS (SELECT vec_id AS query_id, {qsub_cols} FROM e WHERE vec_id < 10),
adc AS (
  SELECT qs.query_id, p.vec_id AS neighbor_id, {adc_expr} AS dist
  FROM qs CROSS JOIN pcodes p
  {b_joins}
  WHERE p.vec_id != qs.query_id
)
SELECT 'ivf' AS method, query_id, rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {k}
UNION ALL
SELECT 'pq' AS method, query_id, rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS rank
  FROM adc
) WHERE rank <= {k}
"""


SQL_EMBED_COSINE_DUP = f"""
WITH {SQL_EMBS2},
d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embs2)
SELECT l.vec_id AS a, r.vec_id AS b
FROM d l CROSS JOIN d r
WHERE l.vec_id < r.vec_id AND list_cosine_similarity(l.v, r.v) >= 0.99
"""


SQL_EMBED_DEDUP_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({SQL_EMBED_COSINE_DUP}),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
),
labels AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT node AS vec_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labels
"""


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------
# (the former multimodal_extract driver query — stub-decode metadata over
# fake payloads — was absorbed by the r3 registry consolidation: the REAL
# codec query below supersedes it, and extract_media_meta keeps dedicated
# pytest coverage in tests/test_dataops.py)
def q_multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path end-to-end: deterministic PNG/GIF/BMP/JPEG/WAV/MP4
    payloads are built from doc_id, then parsed back by the pure-Python
    header codecs (operators/multimodal.py real_decode). The oracle
    recomputes the expected metadata from doc_id arithmetic — so a codec
    bug (wrong offset, wrong endianness) breaks the hash match."""
    import pandas as pd

    from .operators.multimodal import (
        build_bmp,
        build_gif,
        build_jpeg,
        build_mp4,
        build_png,
        build_wav,
        extract_media_meta,
    )

    d = _docs(spark, sf_dir).select("doc_id")

    @F.pandas_udf("binary")
    def _payload(doc_id: pd.Series) -> pd.Series:
        out = []
        for did in doc_id:
            did = int(did)
            fmt = did % 6
            w, h = did % 100 + 1, did % 50 + 1
            dur = (did % 300 + 1) * 100
            if fmt == 0:
                out.append(build_png(w, h))
            elif fmt == 1:
                out.append(build_gif(w, h))
            elif fmt == 2:
                out.append(build_bmp(w, h))
            elif fmt == 3:
                out.append(build_jpeg(w, h))
            elif fmt == 4:
                out.append(build_wav(dur))
            else:
                out.append(build_mp4(dur))
        return pd.Series(out)

    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.element_at(
            F.array(*[F.lit(k) for k in ("image", "image", "image", "image", "audio", "video")]),
            (F.col("doc_id") % 6 + 1).cast("int"),
        ).alias("kind"),
        _payload(F.col("doc_id")).alias("payload"),
    )
    meta = extract_media_meta(media, decoder="real")
    return meta.select("media_id", "kind", "width", "height", "duration_ms", "ok")


SQL_MULTIMODAL_REAL_DECODE = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
  CASE WHEN doc_id % 6 <= 3 THEN 'image' WHEN doc_id % 6 = 4 THEN 'audio' ELSE 'video' END AS kind,
  CAST(CASE WHEN doc_id % 6 <= 3 THEN doc_id % 100 + 1 END AS INT) AS width,
  CAST(CASE WHEN doc_id % 6 <= 3 THEN doc_id % 50 + 1 END AS INT) AS height,
  CAST(CASE WHEN doc_id % 6 >= 4 THEN (doc_id % 300 + 1) * 100 END AS BIGINT) AS duration_ms,
  TRUE AS ok
FROM documents
"""


def q_embed_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end-to-end: deterministic Lloyd's
    k-means over the embeddings, within-cluster cosine pairs, then the
    shared pointer-jumping closure → per-vector duplicate-cluster label.
    K-means is ITERATIVE (corpus scans per round); with the round count
    FIXED at 3 the loop unrolls to chained (assign, update) CTE rounds,
    so the driver row is hash-checked against ``_semdedup_oracle_sql()``.
    pytest additionally pins exact python-twin equality of the
    clustering, a brute-force within-cluster pair reference, and layout
    invariance (tests/test_dataops.py::TestKMeansSemDedup)."""
    from .operators.dedup import connected_components
    from .operators.similarity import semdedup_pairs

    pairs = semdedup_pairs(_embs2(spark, sf_dir), threshold=0.99, k=4, iters=3)
    return connected_components(pairs).select(
        F.col("node").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


def _semdedup_oracle_sql(k: int = 4, iters: int = 3, threshold: float = 0.99) -> str:
    """DuckDB twin of ``q_embed_semdedup``: deterministic Lloyd's
    k-means unrolled to ``iters`` chained (assign, update) CTE rounds —
    centroids init from the k lowest-id vectors, assignment =
    argmin(|c|² − 2⟨x,c⟩) with ties to the lowest cluster id
    (row_number ordered by (dist, cl)), update = per-dimension mean
    with empty clusters keeping their previous centroid — then the
    final assignment, within-cluster cosine pairs ≥ threshold, and the
    same recursive-reachability closure every components oracle uses."""
    rounds = []
    prev = "c0"
    for i in range(1, iters + 1):
        rounds.append(f"""a{i} AS (
  SELECT id, cl FROM (
    SELECT e.id, c.cl,
           row_number() OVER (PARTITION BY e.id
             ORDER BY list_dot_product(c.v, c.v) - 2 * list_dot_product(e.v, c.v), c.cl) AS rk
    FROM e CROSS JOIN {prev} c
  ) WHERE rk = 1
),
u{i} AS (
  SELECT a.cl, g.d, avg(e.v[CAST(g.d AS INT)]) AS mu
  FROM a{i} a JOIN e ON e.id = a.id, unnest(generate_series(1, len(e.v))) AS g(d)
  GROUP BY 1, 2
),
c{i} AS (
  SELECT p.cl, COALESCE(u.v, p.v) AS v
  FROM {prev} p LEFT JOIN (SELECT cl, list(mu ORDER BY d) AS v FROM u{i} GROUP BY cl) u USING (cl)
)""")
        prev = f"c{i}"
    return f"""
WITH RECURSIVE {SQL_EMBS2.strip()},
e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embs2),
c0 AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cl, v
  FROM (SELECT id, v FROM e ORDER BY id LIMIT {k})
),
{",".join(rounds)},
af AS (
  SELECT id, cl FROM (
    SELECT e.id, c.cl,
           row_number() OVER (PARTITION BY e.id
             ORDER BY list_dot_product(c.v, c.v) - 2 * list_dot_product(e.v, c.v), c.cl) AS rk
    FROM e CROSS JOIN {prev} c
  ) WHERE rk = 1
),
b AS (SELECT e.id, e.v, af.cl FROM e JOIN af USING (id)),
pairs AS (
  SELECT l.id AS a, r.id AS b
  FROM b l JOIN b r ON l.cl = r.cl AND l.id < r.id
  WHERE list_cosine_similarity(l.v, r.v) >= {threshold}
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
),
labels AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT CAST(node AS BIGINT) AS vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM labels
"""


# r4 registry consolidation: both ANN kernels / both closure graphs under
# one driver row each (the driver gate records the first 50 registry
# entries — merged rows keep every kernel hash-checked while freeing
# slots for the round-4 operators).
SQL_ANN_COSINE_COMBINED = f"""
SELECT 'brute' AS method, query_id, rank, neighbor_id FROM ({SQL_ANN_COSINE_TOPK})
UNION ALL
SELECT 'lsh' AS method, query_id, rank, neighbor_id FROM ({_ann_lsh_oracle_sql()})
"""

SQL_DEDUP_COMPONENTS_COMBINED = f"""
SELECT g.graph, g.node_id, g.cluster_id, g.cluster_size, u.split
FROM (
  SELECT 'text' AS graph, doc_id AS node_id, cluster_id, cluster_size
  FROM ({SQL_DEDUP_COMPONENTS})
  UNION ALL
  SELECT 'embed' AS graph, vec_id AS node_id, cluster_id, cluster_size
  FROM ({SQL_EMBED_DEDUP_COMPONENTS})
) g
JOIN (
  WITH RECURSIVE upairs AS (
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM ({_SQL_JACCARD_BODY})
    UNION
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM ({SQL_EMBED_COSINE_DUP})
  ),
  uedges AS (
    SELECT a AS src, b AS dst FROM upairs
    UNION
    SELECT b AS src, a AS dst FROM upairs
  ),
  unodes AS (SELECT DISTINCT src AS node FROM uedges),
  ureach(node, r) AS (
    SELECT node, node FROM unodes
    UNION
    SELECT e.src, ureach.r FROM uedges e JOIN ureach ON ureach.node = e.dst
  ),
  ulabels AS (SELECT node, min(r) AS ucl FROM ureach GROUP BY node)
  SELECT node AS node_id,
         CASE WHEN CAST('0x' || substr(md5('split:' || CAST(ucl AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 98 THEN 'train'
              WHEN CAST('0x' || substr(md5('split:' || CAST(ucl AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 99 THEN 'valid'
              ELSE 'test' END AS split
  FROM ulabels
) u ON u.node_id = g.node_id
"""

QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_components": q_dedup_components,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_substring": q_dedup_substring,
    "text_quality": q_text_quality,
    "docs_shuffle": q_docs_shuffle,
    "text_tfidf": q_text_tfidf,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_cosine_topk_ivf": q_ann_cosine_topk_ivf,
    "embed_semdedup": q_embed_semdedup,
    "multimodal_real_decode": q_multimodal_real_decode,
}

ORACLES = {
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": _SQL_JACCARD_BODY,
    "dedup_components": SQL_DEDUP_COMPONENTS_COMBINED,
    "dedup_minhash_lsh": _SQL_JACCARD_BODY,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_substring": SQL_DEDUP_SUBSTRING,
    "text_quality": SQL_TEXT_QUALITY,
    "docs_shuffle": SQL_DOCS_SHUFFLE,
    "text_tfidf": SQL_TEXT_TFIDF,
    "ann_cosine_topk": SQL_ANN_COSINE_COMBINED,
    "ann_cosine_topk_ivf": _ann_ivf_oracle_sql(),
    "embed_semdedup": _semdedup_oracle_sql(k=4, iters=3, threshold=0.99),
    "multimodal_real_decode": SQL_MULTIMODAL_REAL_DECODE,
}
