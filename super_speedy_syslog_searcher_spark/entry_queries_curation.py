"""Driver-contract queries + DuckDB oracles for the corpus-curation
operators (PII scrub, stratified sampling, URL/domain stats, exact
quantiles, winnow-overlap dedup) over the ``documents`` table.

The synthetic corpus contains no PII or URLs, so the scrub/URL queries
self-seed them deterministically from ``doc_id`` — identical string
operations on the Spark side and in the SQL oracle (the same pattern the
dedup queries use for near-duplicates, entry_queries_data.py).

Regexes live in the Java-regex ∩ RE2 common subset; DuckDB
``regexp_replace`` needs the explicit ``'g'`` flag to match Spark's
replace-all semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries import _SQL_LINE_EXPR, _line_expr
from .entry_queries_data import SQL_DOCS2, _docs, _docs2
from .operators.curation import (
    CONTROL_RE,
    EMAIL_RE,
    HSPACE_RE,
    HTML_BLOCK_RE,
    HTML_DROP_RES,
    HTML_ENTITIES,
    HTML_TAG_RE,
    HTML_WS_CANON,
    IPV4_RE,
    PHONE_RE,
    URL_DOMAIN_RE,
    decontaminate,
    drop_boilerplate_lines,
    dsir_weights,
    extract_html_text,
    html_escape_min,
    length_quantiles,
    NORM_TRIM_RE,
    normalize_text,
    pii_scrub,
    repetition_stats,
    stratified_sample,
    url_domain_stats,
    winnow_overlap_pairs,
)
from .operators.textstats import winnow_fingerprints

# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------


def _seed_pii(d: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(F.lit(" from 10."), (did % 256).cast("string"), F.lit(".0.1")),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(F.lit(" call 555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


# decomposed / control / NBSP seeds for the normalize_text leg of the
# row — the SAME Python strings are interpolated into the SQL twin, so
# both engines see identical codepoints (NFC must compose them).
UNICODE_SEEDS = {
    4: " cafe\u0301 latte",  # e + combining acute -> caf\xe9
    6: " A\u030angstro\u0308m",  # ring/diaeresis -> \xc5ngstr\xf6m
    9: " x\u00a0y  z",  # NBSP + space run collapse
    10: " ctl\u0007q\u009fz",  # C0 + C1 controls stripped
}


def _seed_unicode(d: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    t = F.col("text")
    for mod, s in sorted(UNICODE_SEEDS.items()):
        t = F.concat(t, F.when(did % mod == 0, F.lit(s)).otherwise(F.lit("")))
    return d.select("doc_id", t.alias("text"))


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction counts + scrubbed text over the PII-seeded corpus,
    joined (r4.4) with the unicode-canonicalization columns of
    ``curation.normalize_text`` over the same corpus additionally seeded
    with decomposed/NBSP/control sequences — NFC composition, control
    strip, and whitespace collapse are hash-checked against DuckDB's
    ``nfc_normalize`` plus the same Java∩RE2 regex chain."""
    seeded = _seed_unicode(_seed_pii(_docs(spark, sf_dir).select("doc_id", "text")))
    return pii_scrub(seeded).join(normalize_text(seeded), "doc_id")


_SQL_PII_SEED = """
pii AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         AS text
  FROM documents
)
"""

def _sql_str(s: str) -> str:
    """Interpolate a Python string into a DuckDB literal verbatim —
    the seed/wrap constants reach both engines with identical
    codepoints because both sides read the same Python object."""
    return "'" + s.replace("'", "''") + "'"


_SQL_UNICODE_SEED = "seeded AS (\n  SELECT doc_id, text" + "".join(
    f"\n         || CASE WHEN doc_id % {m} = 0 THEN {_sql_str(s)} ELSE '' END"
    for m, s in sorted(UNICODE_SEEDS.items())
) + "\n         AS text\n  FROM pii\n)"


def _sql_repl(rep: str) -> str:
    """Render a replacement string as a DuckDB expression — newlines
    become chr(10) so no escape-dialect question arises."""
    if not rep:
        return "''"
    return " || ".join("chr(10)" if ch == "\n" else _sql_str(ch) for ch in rep)


def _sql_normalize(col: str) -> str:
    """The DuckDB mirror of curation.normalize_text, generated from the
    operator's own regex constants so the engines cannot drift."""
    t = f"nfc_normalize({col})"
    t = f"regexp_replace({t}, '{CONTROL_RE}', '', 'g')"
    t = f"regexp_replace({t}, '{HSPACE_RE}', ' ', 'g')"
    return f"regexp_replace({t}, '{NORM_TRIM_RE}', '', 'g')"


_SQL_NORM = _sql_normalize("text")

SQL_TEXT_PII_SCRUB = f"""
WITH {_SQL_PII_SEED.strip()},
{_SQL_UNICODE_SEED}
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_phone,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
           '{IPV4_RE}', '<IP>', 'g'),
         '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
       {_SQL_NORM} AS norm_text,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length({_SQL_NORM}) AS BIGINT) AS n_chars_norm,
       CASE WHEN {_SQL_NORM} != text THEN 1 ELSE 0 END AS changed
FROM seeded
"""

# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------

SAMPLE_RATES = {"en": 35, "de": 60, "es": 50, "fr": 25, "zh": 45}


EXACT_K = 20


def q_docs_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-based deterministic sampling joined (r4.4) with the
    exactly-k companion: each kept row additionally carries its
    ``curation.exact_k_sample`` rank when it sits in its language's
    md5-ordered top-{EXACT_K} (NULL otherwise) — both keep-sets are
    layout/engine-independent and the twin re-derives the rank with a
    plain window."""
    from .operators.curation import exact_k_sample, priority_sample

    d = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    ek = exact_k_sample(d, EXACT_K).select("doc_id", "sample_rank")
    # r5 absorption: WEIGHTED sampling without replacement (priority
    # sampling, Duffield et al. 2007 — curation.priority_sample) with
    # n_chars as the weight; its top-k set, ranks, and the max(w, tau)
    # subset-sum estimator are bit-exact across engines (one IEEE
    # division), so they sit under the value hash beside the uniform
    # samplers.
    ps = priority_sample(d, EXACT_K, weight_col="n_chars").select(
        "doc_id", "prio_rank", "est_w"
    )
    return (
        stratified_sample(d, SAMPLE_RATES)
        .select("doc_id", "lang", "source", "bucket", "rate")
        .join(ek, "doc_id", "left")
        .join(ps, "doc_id", "left")
    )


_RATE_CASE = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items())
) + " ELSE 0 END"

SQL_DOCS_SAMPLE_STRATIFIED = f"""
WITH ek AS (
  SELECT doc_id, CAST(rnk AS BIGINT) AS sample_rank FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
    FROM documents
  ) WHERE rnk <= {EXACT_K}
),
pr AS (
  SELECT doc_id, lang, n_chars,
         CAST(n_chars AS DOUBLE)
           / ((CAST('0x' || substr(md5('psample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1)
              / 4294967296.0) AS q,
         row_number() OVER (PARTITION BY lang ORDER BY
           CAST(n_chars AS DOUBLE)
             / ((CAST('0x' || substr(md5('psample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1)
                / 4294967296.0) DESC, doc_id ASC) AS rnk
  FROM documents
),
tau AS (
  SELECT lang, max(CASE WHEN rnk = {EXACT_K} + 1 THEN q END) AS tau FROM pr GROUP BY lang
),
ps AS (
  SELECT pr.doc_id, CAST(pr.rnk AS BIGINT) AS prio_rank,
         greatest(CAST(pr.n_chars AS DOUBLE), coalesce(tau.tau, 0.0)) AS est_w
  FROM pr JOIN tau USING (lang) WHERE pr.rnk <= {EXACT_K}
),
kept AS (
  SELECT doc_id, lang, source, bucket, rate FROM (
    SELECT doc_id, lang, source,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket,
           {_RATE_CASE} AS rate
    FROM documents
  ) WHERE bucket < rate
)
SELECT k.*, ek.sample_rank, ps.prio_rank, ps.est_w
FROM kept k LEFT JOIN ek USING (doc_id) LEFT JOIN ps USING (doc_id)
"""

# ---------------------------------------------------------------------------
# URL / domain stats
# ---------------------------------------------------------------------------


def _seed_urls(d: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" see https://site"),
                    (did % 20).cast("string"),
                    F.lit(".example.org/p/"),
                    did.cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" mirror http://cdn.example.com/a/"), (did % 7).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


# seeded blocklist for the suffix-at-label-boundary flag — 'example.org'
# blocks every site<N>.example.org subdomain; the exact-host entry
# exercises the equality leg; both engines derive suffixes identically.
URL_BLOCKLIST = ("example.org", "cdn.example.com")


FUZZY_CANON = ("cdn.example.com", "site1.example.org", "site7.example.org")


def q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL stats plus (r4.4) a blocklist flag (a listed
    domain matches itself and its subdomains, at a label boundary),
    hash-checked per domain; plus (r5 session 3)
    the edit-distance record-linkage columns of ``dedup.fuzzy_join``:
    each observed domain's best match (min dist, ties to the smaller
    canon) against a seeded canonical host list at max_dist=1, run
    through the SEGMENT (PassJoin) strategy so the scale path is what
    sits under the hash gate. The oracle restates the match as a
    literal cross join + ``levenshtein`` filter — exact on both
    engines."""
    from .operators.dedup import fuzzy_join

    stats = url_domain_stats(_seed_urls(_docs(spark, sf_dir).select("doc_id", "text")))
    labels = F.split(F.lower(F.col("domain")), "\\.")
    sufs = F.transform(
        F.sequence(F.lit(0), F.size(labels) - 1),
        lambda i: F.array_join(F.slice(labels, i + 1, F.size(labels) - i), "."),
    )
    blocked = F.when(
        F.exists(sufs, lambda s: s.isin(*URL_BLOCKLIST)), 1
    ).otherwise(0)
    doms = stats.select("domain").distinct()
    canon = spark.createDataFrame([(c,) for c in FUZZY_CANON], "canon string")
    best = (
        fuzzy_join(
            doms, canon, max_dist=1,
            left_id="domain", left_col="domain",
            right_id="canon", right_col="canon",
            strategy="segment",
        )
        .groupBy("domain")
        .agg(F.min(F.struct("dist", "canon")).alias("_m"))
        .select(
            "domain",
            F.col("_m.canon").alias("fuzzy_canon"),
            F.col("_m.dist").alias("fuzzy_dist"),
        )
    )
    return stats.select(
        "domain", "n_urls", "n_docs", blocked.alias("blocked")
    ).join(best, "domain", "left")


_SQL_URL_SEED = """
urled AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' see https://site' || CAST(doc_id % 20 AS VARCHAR)
                      || '.example.org/p/' || CAST(doc_id AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' mirror http://cdn.example.com/a/' || CAST(doc_id % 7 AS VARCHAR)
                 ELSE '' END
         AS text
  FROM documents
)
"""

_SQL_BLOCKLIST = ", ".join(f"'{b}'" for b in URL_BLOCKLIST)

_SQL_FUZZY_CANON = ", ".join(f"('{c}')" for c in FUZZY_CANON)

SQL_URL_DOMAIN_STATS = f"""
WITH {_SQL_URL_SEED.strip()},
hits AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{URL_DOMAIN_RE}', 1)) AS domain
  FROM urled
),
agg AS (
  SELECT domain,
         CAST(count(*) AS BIGINT) AS n_urls,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CASE WHEN len(list_intersect(
                list_transform(
                  generate_series(1, len(string_split(lower(domain), '.'))),
                  i -> array_to_string(list_slice(string_split(lower(domain), '.'),
                                                  i, len(string_split(lower(domain), '.'))), '.')),
                [{_SQL_BLOCKLIST}])) > 0
              THEN 1 ELSE 0 END AS blocked
  FROM hits GROUP BY domain
),
fz AS (
  SELECT a.domain, c.canon, CAST(levenshtein(a.domain, c.canon) AS INT) AS dist
  FROM (SELECT DISTINCT domain FROM hits) a
  CROSS JOIN (VALUES {_SQL_FUZZY_CANON}) AS c(canon)
  WHERE levenshtein(a.domain, c.canon) <= 1
),
fzb AS (
  SELECT domain, canon AS fuzzy_canon, dist AS fuzzy_dist
  FROM (SELECT domain, canon, dist,
               row_number() OVER (PARTITION BY domain ORDER BY dist, canon) AS rn
        FROM fz)
  WHERE rn = 1
)
SELECT agg.*, fzb.fuzzy_canon, fzb.fuzzy_dist
FROM agg LEFT JOIN fzb USING (domain)
"""

# ---------------------------------------------------------------------------
# exact length quantiles
# ---------------------------------------------------------------------------


def q_text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r5 absorption: HDR-histogram log2 quantile sketch (bounded,
    # mergeable, integer-exact twin — operators/sketch.py) joined
    # beside the exact quantiles, so the sketch's bucket math AND its
    # rep(exact_quantile) identity sit under the driver's value hash.
    from .operators.sketch import hdr_quantiles

    docs = _docs(spark, sf_dir).select("source", "n_chars")
    exact = length_quantiles(docs)
    hdr = hdr_quantiles(docs, k=5)
    return exact.join(hdr, "source")


SQL_TEXT_LENGTH_QUANTILES = """
WITH hist AS (
  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
  FROM documents GROUP BY source, n_chars
),
cum AS (
  SELECT source, n_chars,
         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS total
  FROM hist
),
hdr_hist AS (
  SELECT source,
         (CAST(n_chars AS BIGINT) >> greatest(length(bin(CAST(n_chars AS BIGINT))) - 1 - 5, 0))
           << greatest(length(bin(CAST(n_chars AS BIGINT))) - 1 - 5, 0) AS rep,
         CAST(count(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1, 2
),
hdr_cum AS (
  SELECT source, rep,
         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY rep) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS total
  FROM hdr_hist
),
hdr AS (
  SELECT source,
         min(CASE WHEN cum * 100 >= 50 * total THEN rep END) AS hdr_p50,
         min(CASE WHEN cum * 100 >= 90 * total THEN rep END) AS hdr_p90,
         min(CASE WHEN cum * 100 >= 99 * total THEN rep END) AS hdr_p99
  FROM hdr_cum GROUP BY source
)
SELECT source,
       min(CASE WHEN cum * 100 >= 50 * total THEN n_chars END) AS p50,
       min(CASE WHEN cum * 100 >= 90 * total THEN n_chars END) AS p90,
       min(CASE WHEN cum * 100 >= 99 * total THEN n_chars END) AS p99,
       max(total) AS n_docs,
       min(hdr_p50) AS hdr_p50, min(hdr_p90) AS hdr_p90, min(hdr_p99) AS hdr_p99
FROM cum JOIN hdr USING (source) GROUP BY source
"""

# ---------------------------------------------------------------------------
# winnow-fingerprint overlap dedup
# ---------------------------------------------------------------------------

WINNOW_MIN_SHARED = 8
WINNOW_MAX_DF = 20


def q_dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = winnow_fingerprints(_docs2(spark, sf_dir))
    return winnow_overlap_pairs(fps, min_shared=WINNOW_MIN_SHARED, max_df=WINNOW_MAX_DF)


# winnow twin over the seeded docs2 corpus: k=5 char grams over
# lower(text), md5-60-bit gram hash, min per window of 8 gram positions
# (all grams when fewer), distinct — mirrors winnow_fingerprints() value
# for value — then the max_df-capped inverted-index self-join.
SQL_DEDUP_WINNOW_OVERLAP = f"""
WITH {SQL_DOCS2.strip()},
norm AS (SELECT doc_id, lower(text) AS s FROM docs2 WHERE length(text) >= 5),
grams AS (
  SELECT doc_id, i,
         CAST('0x' || substr(md5(substr(s, CAST(i AS INT), 5)), 1, 15) AS BIGINT) AS h
  FROM (SELECT doc_id, s, unnest(generate_series(1, length(s) - 4)) AS i FROM norm)
),
sized AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
wins AS (
  SELECT g.doc_id,
         min(h) OVER (PARTITION BY g.doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m,
         i, s.n_grams
  FROM grams g JOIN sized s USING (doc_id)
),
inv AS (
  SELECT DISTINCT doc_id, m AS fp
  FROM wins WHERE i <= greatest(n_grams - 7, 1)
),
rare AS (SELECT fp FROM inv GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF}),
capped AS (SELECT doc_id, fp FROM inv JOIN rare USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# Gopher-style repetition filters
# ---------------------------------------------------------------------------


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters + (r4.3) the Gopher QUALITY rules of the
    same appendix (``curation.gopher_quality_stats``: word-count/word-
    length bounds, symbol ratio, bullet/ellipsis line fractions, alpha-
    word fraction, stopword requirement) joined per doc — the full
    Rae et al. 2021 Table A1 rule set in one driver row."""
    from .operators.curation import gopher_quality_stats

    d = _docs(spark, sf_dir).select("doc_id", "text")
    rep = repetition_stats(d)
    gq = gopher_quality_stats(d).drop("n_words")  # rep already carries n_words
    return rep.join(gq, "doc_id")


SQL_TEXT_REPETITION = """
WITH w AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS wl
  FROM documents
),
grams AS (
  SELECT doc_id, n_chars, n, unnest(g) AS gram FROM (
    SELECT doc_id, n_chars, n,
           CASE WHEN len(wl) >= n
                THEN list_transform(generate_series(1, len(wl) - n + 1),
                                    i -> array_to_string(list_slice(wl, i, i + n - 1), ' '))
                ELSE [] END AS g
    FROM w, (SELECT unnest([1, 2, 3, 5]) AS n) orders
  )
),
counts AS (
  SELECT doc_id, n_chars, n, gram, count(*) AS cnt FROM grams GROUP BY ALL
),
per_doc AS (
  -- top-n-gram = the MOST FREQUENT gram (Gopher), tie -> longer gram:
  -- lexicographic struct max on (cnt, len), same as Spark's struct max
  SELECT doc_id, n_chars,
         sum(CASE WHEN n = 1 THEN cnt END) AS n_words,
         count(CASE WHEN n = 1 THEN 1 END) AS n_distinct,
         max(CASE WHEN n = 2 THEN struct_pack(c := cnt, l := length(gram)) END) AS t2s,
         max(CASE WHEN n = 3 THEN struct_pack(c := cnt, l := length(gram)) END) AS t3s,
         sum(CASE WHEN n = 5 AND cnt > 1 THEN cnt * length(gram) END) AS d5
  FROM counts GROUP BY doc_id, n_chars
),
fracs AS (
  SELECT doc_id, n_chars, CAST(n_words AS BIGINT) AS n_words,
         round((n_words - n_distinct) / CAST(n_words AS DOUBLE), 4) AS dup_word_frac,
         round(COALESCE(t2s.c * t2s.l, 0) / CAST(n_chars AS DOUBLE), 4) AS top2gram_frac,
         round(COALESCE(t3s.c * t3s.l, 0) / CAST(n_chars AS DOUBLE), 4) AS top3gram_frac,
         round(COALESCE(d5, 0) / CAST(n_chars AS DOUBLE), 4) AS dup5gram_frac
  FROM per_doc
),
rep_out AS (
  SELECT *,
         CASE WHEN top2gram_frac <= 0.20 AND top3gram_frac <= 0.18
                   AND dup5gram_frac <= 0.15 THEN 1 ELSE 0 END AS keep
  FROM fracs
),
gq_base AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS wl,
         string_split(text, chr(10)) AS ll
  FROM documents
),
gq AS (
  SELECT doc_id,
         CASE WHEN len(wl) > 0 THEN round(list_sum(list_transform(wl, x -> length(x))) / CAST(len(wl) AS DOUBLE), 4) END AS mean_word_len,
         CASE WHEN len(wl) > 0 THEN round(
           (length(text) - length(replace(text, '#', ''))
            + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
            + length(text) - length(replace(text, '…', ''))) / CAST(len(wl) AS DOUBLE), 4) END AS symbol_word_ratio,
         CASE WHEN len(ll) > 0 THEN round(len(list_filter(ll, l -> substr(l, 1, 1) IN ('•', '‣', '▪', '-', '*'))) / CAST(len(ll) AS DOUBLE), 4) END AS bullet_line_frac,
         CASE WHEN len(ll) > 0 THEN round(len(list_filter(ll, l -> ends_with(l, '...') OR ends_with(l, '…'))) / CAST(len(ll) AS DOUBLE), 4) END AS ellipsis_line_frac,
         CASE WHEN len(wl) > 0 THEN round(len(list_filter(wl, w -> regexp_matches(w, '[A-Za-z]'))) / CAST(len(wl) AS DOUBLE), 4) END AS alpha_word_frac,
         CAST(len(list_intersect(list_distinct(list_transform(wl, w -> lower(w))),
              ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS BIGINT) AS stop_hits,
         CAST(len(wl) AS BIGINT) AS gq_n_words
  FROM gq_base
)
SELECT r.*, g.mean_word_len, g.symbol_word_ratio, g.bullet_line_frac,
       g.ellipsis_line_frac, g.alpha_word_frac, g.stop_hits,
       CASE WHEN g.gq_n_words >= 50 AND g.gq_n_words <= 100000
                 AND g.mean_word_len >= 3.0 AND g.mean_word_len <= 10.0
                 AND g.symbol_word_ratio <= 0.1
                 AND g.bullet_line_frac <= 0.9
                 AND g.ellipsis_line_frac <= 0.3
                 AND g.alpha_word_frac >= 0.8
                 AND g.stop_hits >= 2 THEN 1 ELSE 0 END AS gopher_pass
FROM rep_out r JOIN gq g USING (doc_id)
"""

# ---------------------------------------------------------------------------
# cross-doc boilerplate-line removal
# ---------------------------------------------------------------------------

BOILER_MAX_DOCS = 5

# deterministic HTML chrome wrapped around each multiline log document —
# script/style/comment subtrees must vanish, each log line rides its own
# <p>, and the footer (identical across docs) must come back OUT via the
# cross-doc boilerplate-line dedup downstream. Shared verbatim with the
# SQL twin through _sql_str.
HTML_WRAP_PRE = (
    '<html><head><style type="text/css">p { margin: 0; }</style>'
    '<script>var n = "'
)
HTML_WRAP_MID = '"; if (1 < 2) { render(); }</script></head><body><!-- rendered --><h1>Log '
HTML_WRAP_P = "</h1><p>"
HTML_WRAP_SEP = "</p><p>"
HTML_WRAP_POST = (
    '</p><div id="f">&amp;copy; 2024 &lt;Example Corp&gt;&nbsp;footer</div>'
    "</body></html>"
)


def q_clean_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction composed with RefinedWeb-style
    repeated-line removal (r4.4): each multiline log document is rendered
    into deterministic HTML chrome (script/style/comment subtrees,
    per-line <p> elements, an entity-encoded footer shared by every
    page), ``curation.extract_html_text`` recovers the text lines, and
    the cross-doc line dedup then drops what the chrome left behind (the
    shared footer) plus the '  at module ...' continuation lines that
    appear in every error document; each document's unique log lines
    survive in order. The extraction density columns ride along."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    line = _line_expr()
    line = F.when(
        F.col("event_type") == "error",
        F.concat(line, F.lit("\n  at module alpha\n  at module beta")),
    ).otherwise(line)
    docs = (
        ev.select(F.col("user_id"), F.col("event_id"), line.alias("t"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct("event_id", "t"))).alias("ls"))
        .select(
            F.concat(F.lit("u"), F.lpad(F.col("user_id").cast("string"), 8, "0")).alias("doc_id"),
            F.concat_ws("\n", F.transform("ls", lambda s: s["t"])).alias("text"),
        )
    )
    # escape &/</> before injection (review r4.4) — entity decode on
    # extraction restores the original characters
    esc = html_escape_min(F.col("text"))
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit(HTML_WRAP_PRE),
            F.col("doc_id"),
            F.lit(HTML_WRAP_MID),
            F.col("doc_id"),
            F.lit(HTML_WRAP_P),
            F.replace(esc, F.lit("\n"), F.lit(HTML_WRAP_SEP)),
            F.lit(HTML_WRAP_POST),
        ).alias("html"),
    )
    # the 16-step regex chain feeds both the line dedup and the density
    # columns — materialize it once (the r4.3 components-row idiom)
    ex = extract_html_text(wrapped).localCheckpoint(eager=True)
    cleaned = drop_boilerplate_lines(ex.select("doc_id", "text"), max_docs=BOILER_MAX_DOCS)
    return cleaned.join(
        ex.select("doc_id", "n_chars_html", "n_chars_text", "text_density"), "doc_id"
    )


def _sql_html_extract(col: str) -> str:
    """The DuckDB mirror of curation.extract_html_text, generated from
    the operator's own pattern constants (drop/block/tag/entity tables
    AND the whitespace-canon chain) so the engines cannot drift."""
    t = col
    for pat in HTML_DROP_RES:
        t = f"regexp_replace({t}, '{pat}', '', 'g')"
    t = f"regexp_replace({t}, '{HTML_BLOCK_RE}', chr(10), 'g')"
    t = f"regexp_replace({t}, '{HTML_TAG_RE}', '', 'g')"
    for ent, rep in HTML_ENTITIES:
        t = f"replace({t}, {_sql_str(ent)}, {_sql_str(rep)})"
    for pat, rep in HTML_WS_CANON:
        t = f"regexp_replace({t}, '{pat}', {_sql_repl(rep)}, 'g')"
    return t


SQL_CLEAN_BOILERPLATE = f"""
WITH ml AS (
  SELECT user_id, event_id,
         ({_SQL_LINE_EXPR})
         || CASE WHEN event_type = 'error'
                 THEN chr(10) || '  at module alpha' || chr(10) || '  at module beta'
                 ELSE '' END AS ltext
  FROM events
),
docs AS (
  SELECT 'u' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS doc_id,
         string_agg(ltext, chr(10) ORDER BY event_id) AS text
  FROM ml GROUP BY user_id
),
wrapped AS (
  SELECT doc_id,
         {_sql_str(HTML_WRAP_PRE)} || doc_id || {_sql_str(HTML_WRAP_MID)} || doc_id
         || {_sql_str(HTML_WRAP_P)}
         || replace(
              replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
              chr(10), {_sql_str(HTML_WRAP_SEP)})
         || {_sql_str(HTML_WRAP_POST)} AS html
  FROM docs
),
ex AS (
  SELECT doc_id,
         {_sql_html_extract('html')} AS text,
         CAST(length(html) AS BIGINT) AS n_chars_html
  FROM wrapped
),
exm AS (
  SELECT doc_id, text, n_chars_html,
         CAST(length(text) AS BIGINT) AS n_chars_text,
         round(CASE WHEN n_chars_html > 0
                    THEN length(text) / CAST(n_chars_html AS DOUBLE)
                    ELSE 0.0 END, 4) AS text_density
  FROM ex
),
lines AS (
  SELECT doc_id, i - 1 AS idx, ls[i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls,
               unnest(generate_series(1, len(string_split(text, chr(10))))) AS i
        FROM exm)
),
stats AS (SELECT line, count(DISTINCT doc_id) AS line_docs FROM lines GROUP BY line)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN line_docs > {BOILER_MAX_DOCS} THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       COALESCE(string_agg(CASE WHEN line_docs <= {BOILER_MAX_DOCS} THEN line END,
                           chr(10) ORDER BY idx), '') AS clean_text,
       max(e.n_chars_html) AS n_chars_html,
       max(e.n_chars_text) AS n_chars_text,
       max(e.text_density) AS text_density
FROM lines JOIN stats USING (line) JOIN exm e USING (doc_id)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

DECON_N = 8
# a benchmark row sharing no gram with the corpus (exercises the
# zero-hit path end-to-end through both engines)
DECON_ABSENT = "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9"


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level flag AND span-level masking in one driver row (r4
    registry consolidation — absorbs the former ``decontaminate_spans``;
    both operators stay hash-checked, joined per doc). The benchmark is
    seeded deterministically from the corpus itself (the 120-char prefix
    of every 25th doc — so contamination genuinely exists), plus one
    absent row that must hit nothing."""
    from .operators.curation import decontaminate_spans

    d = _docs(spark, sf_dir).select("doc_id", "text")
    bench = (
        d.filter(F.col("doc_id") % 25 == 0)
        .select(F.col("doc_id").alias("bench_id"), F.expr("substr(text, 1, 120)").alias("text"))
        .unionByName(
            spark.createDataFrame([(-1, DECON_ABSENT)], "bench_id long, text string")
        )
    )
    flags = decontaminate(d, bench, n=DECON_N)
    spans = decontaminate_spans(d, bench, n=DECON_N).select(
        "doc_id", "clean_text", "n_masked_words", "n_words"
    )
    return flags.join(spans, "doc_id")


def _sql_gram(n: int) -> str:
    return " || ' ' || ".join(f"ws[x+{k}]" if k else "ws[x]" for k in range(n))


SQL_DECONTAMINATE_SPANS = f"""
WITH bench AS (
  SELECT substr(text, 1, 120) AS text FROM documents WHERE doc_id % 25 = 0
  UNION ALL SELECT '{DECON_ABSENT}' AS text
),
bw AS (SELECT string_split(text, ' ') AS ws FROM bench),
bgrams AS (
  SELECT DISTINCT {_sql_gram(DECON_N)} AS gram
  FROM bw, unnest(generate_series(1, greatest(len(ws) - {DECON_N - 1}, 0))) AS t(x)
  WHERE len(ws) >= {DECON_N}
),
tw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tgrams AS (
  SELECT doc_id, x - 1 AS pos, {_sql_gram(DECON_N)} AS gram
  FROM tw, unnest(generate_series(1, greatest(len(ws) - {DECON_N - 1}, 0))) AS t(x)
  WHERE len(ws) >= {DECON_N}
),
hs AS (
  SELECT t.doc_id, list(DISTINCT t.pos) AS starts
  FROM tgrams t JOIN bgrams b USING (gram) GROUP BY t.doc_id
),
mw AS (
  SELECT doc_id, ws, COALESCE(starts, []) AS hs FROM tw LEFT JOIN hs USING (doc_id)
),
masked AS (
  SELECT doc_id, ws,
         list_transform(generate_series(1, len(ws)),
             i -> CASE WHEN len(list_filter(hs, p -> p <= i - 1 AND p > i - 1 - {DECON_N})) > 0
                       THEN '<MASKED>' ELSE ws[i] END) AS mws
  FROM mw
)
SELECT doc_id,
       array_to_string(mws, ' ') AS clean_text,
       CAST(len(list_filter(mws, w -> w = '<MASKED>')) AS BIGINT) AS n_masked_words,
       CAST(len(ws) AS BIGINT) AS n_words
FROM masked
"""


SQL_DECONTAMINATE = f"""
WITH bench AS (
  SELECT doc_id AS bench_id, substr(text, 1, 120) AS text
  FROM documents WHERE doc_id % 25 = 0
  UNION ALL SELECT -1 AS bench_id, '{DECON_ABSENT}' AS text
),
bw AS (SELECT bench_id, string_split(text, ' ') AS ws FROM bench),
bgrams AS (
  SELECT DISTINCT bench_id, {_sql_gram(DECON_N)} AS gram
  FROM bw, unnest(generate_series(1, greatest(len(ws) - {DECON_N - 1}, 0))) AS t(x)
  WHERE len(ws) >= {DECON_N}
),
tw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tgrams AS (
  SELECT DISTINCT doc_id, {_sql_gram(DECON_N)} AS gram
  FROM tw, unnest(generate_series(1, greatest(len(ws) - {DECON_N - 1}, 0))) AS t(x)
  WHERE len(ws) >= {DECON_N}
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tgrams GROUP BY doc_id),
hits AS (
  SELECT t.doc_id,
         CAST(count(DISTINCT t.gram) AS BIGINT) AS n_hit_grams,
         CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_hits
  FROM tgrams t JOIN bgrams b USING (gram) GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_grams, 0) AS n_grams,
       COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
       COALESCE(h.n_bench_hits, 0) AS n_bench_hits,
       CASE WHEN COALESCE(h.n_hit_grams, 0) >= 1 THEN 1 ELSE 0 END AS contaminated
FROM documents d
LEFT JOIN sizes s USING (doc_id)
LEFT JOIN hits h USING (doc_id)
"""


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 8192


NOVELTY_N = 8


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights for tilting the corpus toward the English
    subset (target = lang 'en'), joined (r4.4) with the per-doc n-gram
    novelty columns of ``curation.ngram_novelty`` — both are per-doc
    data-selection metrics over the word stream, hash-checked in one
    row."""
    from .operators.curation import ngram_novelty

    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    return dsir_weights(d, F.col("lang") == "en", n_buckets=DSIR_BUCKETS).join(
        ngram_novelty(d, n=NOVELTY_N), "doc_id"
    )


SQL_DSIR_WEIGHTS = f"""
WITH toks AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
         CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % {DSIR_BUCKETS} AS b
  FROM (SELECT doc_id, lang,
               unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS w
        FROM documents)
),
bcnt AS (SELECT b, count(*) AS c_s, sum(is_t) AS c_t FROM toks GROUP BY b),
tot AS (SELECT sum(c_s) AS n_s, sum(c_t) AS n_t FROM bcnt),
ratio AS (
  SELECT b, ln((c_t + 1) / CAST(n_t + {DSIR_BUCKETS} AS DOUBLE))
            - ln((c_s + 1) / CAST(n_s + {DSIR_BUCKETS} AS DOUBLE)) AS lr
  FROM bcnt, tot
),
dsir AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, round(avg(lr), 4) AS dsir_weight
  FROM toks JOIN ratio USING (b)
  GROUP BY doc_id
),
nwords AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
  FROM documents
),
ngrams AS (
  SELECT DISTINCT doc_id, {_sql_gram(NOVELTY_N)} AS gram
  FROM nwords, unnest(generate_series(1, greatest(len(ws) - {NOVELTY_N - 1}, 0))) AS t(x)
  WHERE len(ws) >= {NOVELTY_N}
),
ndf AS (SELECT gram, CAST(count(*) AS BIGINT) AS gram_docs FROM ngrams GROUP BY gram),
nov AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN gram_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM ngrams JOIN ndf USING (gram)
  GROUP BY doc_id
)
SELECT d.doc_id, d.n_words, d.dsir_weight,
       COALESCE(v.n_grams, 0) AS n_grams,
       COALESCE(v.n_novel, 0) AS n_novel,
       round(CASE WHEN COALESCE(v.n_grams, 0) > 0
                  THEN v.n_novel / CAST(v.n_grams AS DOUBLE) END, 4) AS novelty_frac
FROM dsir d LEFT JOIN nov v USING (doc_id)
"""


# combined twin: both full bodies as derived tables (DuckDB allows WITH
# inside a subquery), joined per doc — one driver row hash-checks the
# doc-level flag AND the span-level mask together.
SQL_DECONTAMINATE_COMBINED = f"""
SELECT f.doc_id, f.n_grams, f.n_hit_grams, f.n_bench_hits, f.contaminated,
       s.clean_text, s.n_masked_words, s.n_words
FROM ({SQL_DECONTAMINATE}) f JOIN ({SQL_DECONTAMINATE_SPANS}) s USING (doc_id)
"""


QUERIES = {
    "text_pii_scrub": q_text_pii_scrub,
    "decontaminate": q_decontaminate,
    "dsir_weights": q_dsir_weights,
    "text_repetition": q_text_repetition,
    "clean_boilerplate": q_clean_boilerplate,
    "docs_sample_stratified": q_docs_sample_stratified,
    "url_domain_stats": q_url_domain_stats,
    "text_length_quantiles": q_text_length_quantiles,
    "dedup_winnow_overlap": q_dedup_winnow_overlap,
}

ORACLES = {
    "text_pii_scrub": SQL_TEXT_PII_SCRUB,
    "decontaminate": SQL_DECONTAMINATE_COMBINED,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "text_repetition": SQL_TEXT_REPETITION,
    "clean_boilerplate": SQL_CLEAN_BOILERPLATE,
    "docs_sample_stratified": SQL_DOCS_SAMPLE_STRATIFIED,
    "url_domain_stats": SQL_URL_DOMAIN_STATS,
    "text_length_quantiles": SQL_TEXT_LENGTH_QUANTILES,
    "dedup_winnow_overlap": SQL_DEDUP_WINNOW_OVERLAP,
}
